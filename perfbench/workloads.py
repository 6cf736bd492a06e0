"""The benchmark's three traffic mixes. Every client is a closed loop: it
sends its next statement only after the previous reply, like psql, JDBC
and clickhouse clients. A workload is a list of client roles; a role
turns a seeded `random.Random` into an endless statement stream.

A statement is a dict:
  client, proto ("pg" | "ch"), kind (statement type), op ("read" | "write"),
  call: one of "simple", "extended", "copy", "ch_select", "ch_insert",
  sql, params, fmt (PG result format), payload (COPY/INSERT body),
  rows_in (rows a write ingests), check (how to verify the reply).
"""
import random

ANALYTIC_BATCH_ROWS = 1000
BULK_BATCH_ROWS = 10_000
INGEST_COLUMNS = "(k BIGINT, a INT, b DOUBLE, c STRING, d TIMESTAMP) USING parquet"

# Append targets per workload: PG COPY target, CH INSERT…FORMAT target.
INGEST_TABLES = {
    "light": ["bench_log", "bench_log_ch"],
    "analytic": ["bench_stage", "bench_stage_ch"],
    "bulk": ["bench_copy", "bench_chin"],
}
# Tables the benchmark owns inside each run's fresh warehouse.
SETUP_SQL = {w: [f"CREATE TABLE {t} {INGEST_COLUMNS}" for t in ts] for w, ts in INGEST_TABLES.items()}

# light has one connection per protocol: its statements cost ~100 ms of
# server CPU each, and with four connections on four cores the server was
# saturated, so run-to-run swings of the host (JIT and GC threads, other
# tenants) spread every light metric by 15-35 % (IQR/median, five runs);
# with two connections the same runs spread 3-12 %.
CLIENTS = {"light": 2, "analytic": 3, "bulk": 2}
CH_CLIENTS = {"light": {1}, "analytic": {2}, "bulk": {1}}

# The timed analytic mix: one oracle statement per operator family
# (aggregates, dialect, events, functions, joins, ordering, TPC-H,
# windows, text, dedup, pipeline), each taking 250-400 ms on a warm
# single-client server at sf0.1 and returning at most 800 rows. Similar
# costs keep the median steady whichever statements a run's window holds.
ANALYTIC_MIX = [
    "q_agg_bitbool", "q_dedup_exact", "q_dialect_qualify_sql", "q_evt_funnel",
    "q_evt_range_join_bucketed", "q_fn_json", "q_join_cross", "q_orderby_nulls",
    "q_pipeline_pack_sequences", "q_text_pii_redact", "q_tpch_q19", "q_win_running",
]


def csv_rows(first_key, n, rng):
    """`n` CSV rows for the (k, a, b, c, d) ingest tables, keys
    first_key..first_key+n-1."""
    out = []
    for k in range(first_key, first_key + n):
        a = rng.randrange(1000)
        out.append(f"{k},{a},{a * 0.25},name{a},2024-01-{1 + a % 28:02d} 03:04:05\n")
    return "".join(out).encode()


def cycle(rng, items):
    """Endless stream of `items` (a fixed multiset), reshuffled every
    round: every prefix of a run holds each statement type in nearly the
    same proportion whatever the seed."""
    items = list(items)
    while True:
        rng.shuffle(items)
        yield from items


def copy_stmt(client, table, key, payload, n, kind):
    return dict(client=client, proto="pg", kind=kind, op="write", call="copy",
                sql=f"COPY {table} FROM STDIN WITH CSV", payload=payload, rows_in=n,
                check=("ingest", table, key, n))


def ch_insert_stmt(client, table, key, payload, n, kind):
    return dict(client=client, proto="ch", kind=kind, op="write", call="ch_insert",
                sql=f"INSERT INTO {table} FORMAT CSV", payload=payload, rows_in=n,
                check=("ingest", table, key, n))


class Light:
    """One PG client (extended-protocol point lookups with $n params,
    catalog probes over the simple protocol, select-1 class, 15%
    single-row COPY) and one CH client (small GETs, 10% single-row
    INSERT…FORMAT). The append targets grow by one row per write."""

    LOOKUPS = {
        "customer": "SELECT c_name, c_acctbal FROM customer WHERE c_custkey = $1",
        "orders": "SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = $1",
        "part": "SELECT p_name, p_retailprice FROM part WHERE p_partkey = $1",
    }
    CATALOG = [
        ("SELECT table_name FROM information_schema.tables "
         "WHERE table_schema = 'main' AND table_name = 'nation'", [["nation"]]),
        ("SELECT typname FROM pg_catalog.pg_type WHERE oid = 23", [["int4"]]),
        ("SELECT count(*) FROM information_schema.columns WHERE table_name = 'region'", [["2"]]),
        ("SHOW transaction isolation level", None),
    ]
    TRIVIAL = [("SELECT 1", [["1"]]), ("SELECT 1", [["1"]]),
               ("SELECT current_database()", None), ("SELECT version()", None)]
    # one PG round: 9 lookups, 4 catalog probes, 4 select-1 class, 3 writes
    PG_ROUND = ["point"] * 9 + ["catalog"] * 4 + ["select1"] * 4 + ["write"] * 3
    # one CH round: 9 small GETs, 1 write
    CH_ROUND = ["nation"] * 4 + ["count"] * 2 + ["one"] * 3 + ["write"]

    def __init__(self, key_counts):
        self.rows_of = key_counts

    def stream(self, client, rng):
        return self._ch(client, rng) if client in CH_CLIENTS["light"] else self._pg(client, rng)

    def _pg(self, client, rng):
        seq, cat, triv = 0, cycle(rng, self.CATALOG), cycle(rng, self.TRIVIAL)
        tables = cycle(rng, sorted(self.LOOKUPS))
        for what in cycle(rng, self.PG_ROUND):
            if what == "point":
                table = next(tables)
                key = rng.randrange(self.rows_of[table])
                yield dict(client=client, proto="pg", kind="point", op="read", call="extended",
                           sql=self.LOOKUPS[table], params=[key], check=("lookup", table, str(key)))
            elif what == "catalog":
                sql, want = next(cat)
                yield dict(client=client, proto="pg", kind="catalog", op="read", call="simple",
                           sql=sql, check=("rows", want))
            elif what == "select1":
                sql, want = next(triv)
                yield dict(client=client, proto="pg", kind="select1", op="read", call="extended",
                           sql=sql, params=[], check=("rows", want))
            else:
                seq += 1
                key = client * 10**9 + seq
                yield copy_stmt(client, "bench_log", key, csv_rows(key, 1, rng), 1, "copy_row")

    def _ch(self, client, rng):
        seq = 0
        for what in cycle(rng, self.CH_ROUND):
            if what == "nation":
                k = rng.randrange(25)
                sql, want = f"SELECT n_name FROM nation WHERE n_nationkey = {k}", [[f"NATION_{k}"]]
            elif what == "count":
                sql, want = "SELECT count(*) FROM region", [["5"]]
            elif what == "one":
                sql, want = "SELECT 1", [["1"]]
            else:
                seq += 1
                key = client * 10**9 + seq
                yield ch_insert_stmt(client, "bench_log_ch", key, csv_rows(key, 1, rng), 1,
                                     "ch_insert_row")
                continue
            yield dict(client=client, proto="ch", kind="ch_small", op="read", call="ch_select",
                       sql=sql, check=("rows", want))


class Analytic:
    """2 PG clients cycle through the analytic mix in seeded order over
    the simple protocol, staging one 1000-row COPY after every sixth
    statement. The CH client stages inputs the way a reporting job does:
    two 1000-row INSERT…FORMAT CSV loads, then one statement of the mix,
    round after round."""

    def __init__(self, oracle):
        self.oracle = oracle

    def prime(self):
        """Every statement of the mix once, split over the three clients,
        run before the clock starts: Spark compiles each statement's code
        on its first run, and which of them a run's window would otherwise
        meet cold depends on the seed."""
        return {c: [self._read(c, name, c == 2) for name in ANALYTIC_MIX[c::3]] for c in (0, 1, 2)}

    def _read(self, client, name, ch):
        return dict(client=client, proto="ch" if ch else "pg", kind="ch_oracle" if ch else "oracle",
                    op="read", call="ch_select" if ch else "simple", sql=self.oracle[name],
                    name=name, check=("digest", name))

    def stream(self, client, rng):
        mix = cycle(rng, ANALYTIC_MIX)
        seq = 0
        if client != 2:
            while True:
                for _ in range(6):
                    yield self._read(client, next(mix), False)
                key = client * 10**9 + seq * ANALYTIC_BATCH_ROWS
                seq += 1
                yield copy_stmt(client, "bench_stage", key, csv_rows(key, ANALYTIC_BATCH_ROWS, rng),
                                ANALYTIC_BATCH_ROWS, "copy_batch")
        while True:
            for _ in range(2):
                key = client * 10**9 + seq * ANALYTIC_BATCH_ROWS
                seq += 1
                yield ch_insert_stmt(client, "bench_stage_ch", key,
                                     csv_rows(key, ANALYTIC_BATCH_ROWS, rng),
                                     ANALYTIC_BATCH_ROWS, "ch_insert_batch")
            yield self._read(client, next(mix), True)


class Bulk:
    """One PG client (text and binary exports, COPY FROM STDIN) and one
    CH client (TabSeparated and JSONEachRow exports, INSERT…FORMAT CSV),
    each sending one 10k-row ingest batch after every export. An export is
    a quarter of lineitem (l_orderkey % 4, about 150k rows of all eleven
    columns) or, one time in four, all of orders (150k rows): one size
    class, so a run holds several exports per client and the median export
    is a lineitem quarter whatever the seed. With one client per role (four
    connections) the server and the client's decoding asked for more than
    the four cores; two connections keep the same statements, and reads
    still run beside writes on the same codecs and executors."""

    def stream(self, client, rng):
        # one seeded batch per client, re-sent every time: the client does
        # no encoding inside the timed window, and the table's count and key
        # sum still tell a lost or doubled batch apart
        key = client * 10**9
        payload = csv_rows(key, BULK_BATCH_ROWS, rng)
        if client == 0:
            ingest = copy_stmt(client, "bench_copy", key, payload, BULK_BATCH_ROWS, "copy_batch")
        else:
            ingest = ch_insert_stmt(client, "bench_chin", key, payload, BULK_BATCH_ROWS,
                                    "ch_insert_csv")
        for export in self._export(client, rng):
            yield export
            yield ingest

    def _export(self, client, rng):
        # one round pairs each format with three lineitem quarters and one
        # orders export (which is 35-50% faster), so every format's median
        # sees the same mix whatever the seed
        fmts = ["text", "binary"] if client == 0 else ["TabSeparated", "JSONEachRow"]
        quarters = cycle(rng, range(4))
        for table, fmt in cycle(rng, [(t, f) for t in ["lineitem"] * 3 + ["orders"] for f in fmts]):
            part = next(quarters) if table == "lineitem" else None
            sql = f"SELECT * FROM {table}" + (f" WHERE l_orderkey % 4 = {part}" if part is not None else "")
            if client == 0:
                yield dict(client=client, proto="pg", kind=f"export_{fmt}", op="read",
                           call="extended", sql=sql, params=[], fmt=1 if fmt == "binary" else 0,
                           check=("export", table, part))
            else:
                yield dict(client=client, proto="ch", kind=f"export_{fmt}", op="read",
                           call="ch_select", sql=f"{sql} FORMAT {fmt}", fmt=fmt,
                           check=("export", table, part))


def client_rng(seed, client):
    return random.Random(seed * 1009 + client)
