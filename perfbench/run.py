"""Wire-level benchmark for the graft server.

Drives a live `graft.server.ServerMain` over the PostgreSQL wire protocol
and ClickHouse HTTP from closed-loop clients (one thread per connection,
no more connections than cores) and prints one JSON object as the last
line of stdout:

    {"correct": …, "attempted": …, "failed": …, "metrics": {name: {value, unit}}}

    python3 perfbench/run.py --workload light|analytic|bulk --seed N \
        --seconds S --trace 0|1 [--scale 0.1]

--trace 0 reports the end-to-end metrics of BENCHMARK.json, measured on
the wire with nothing traced. --trace 1 makes the same wire run, then
replays the statements it sent up to the middle of the window in-process
(`perfbench.Trace`) with spans off and on and reports the per-layer
metrics. The line before the result is a fuller report: run facts (cores,
heap, seed, fixture, source digest), every metric by statement type, the
client-ceiling self-check and, on traced light runs and on analytic runs,
the wire dialect gap list.
A latency metric (read_*, write_*, first_row_*) is the geometric mean,
over the statement types of that class, of each type's percentile.

Each run launches a fresh server on its own warehouse, lets the clients
run unmeasured for a few seconds, then measures for --seconds. The seed
drives the statement streams; the fixture is fixed. Seeds 1-99 were used
while the benchmark was tuned; use seeds from 1001 up as held-out seeds
when checking a claim.

Everything the benchmark writes lives under perfbench/.work/ in the
checkout: the build, the generated fixture, DuckDB expectations, the
span files of traced runs and one directory per run (the server's
warehouse and logs), removed when the run ends.
"""
import argparse
import base64
import hashlib
import json
import math
import os
import shutil
import socket
import statistics
import struct
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import clients  # noqa: E402
import expect  # noqa: E402
import fixture  # noqa: E402
import workloads  # noqa: E402

# Unmeasured lead-in per run. The server is fresh and still compiling its
# hot paths; the longer the lead-in, the less a slow stretch of the host
# (which also delays that compilation) moves the measured window.
# analytic's lead-in is its priming pass (Analytic.prime).
WARMUP_S = {"light": 20, "analytic": 0, "bulk": 15}
HEAP = "3g"                # server and in-process replay JVM heap
READY_TIMEOUT_S = 120
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
CEILING_MAX_SHARE = 0.5    # client busy time per second of run above this ⇒ client-bound
_I16 = struct.Struct(">h")
_I32 = struct.Struct(">i")
_Q = struct.Struct(">q")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "jvm", "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "jvm", "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    """Compile the server and the benchmark's JVM package (perfbench/jvm,
    which depends on the root build) once per source digest; returns the
    runtime classpath and the oracle SQL dump."""
    bdir = os.path.join(WORK, "build")
    stamp, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath.txt")
    oracle_file = os.path.join(bdir, "oracle.json")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), json.load(open(oracle_file))
    os.makedirs(bdir, exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    log("building server and trace replay with sbt (first run in this checkout)")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "jvm"), env=sbt_env(), capture_output=True, text=True,
        timeout=840, stdin=subprocess.DEVNULL)
    lines = [ln for ln in out.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    cp = lines[-1].strip()
    subprocess.run(["java", "-cp", cp, "perfbench.OracleDump", oracle_file], check=True,
                   timeout=120)
    open(cp_file, "w").write(cp)
    open(stamp, "w").write(digest)
    return cp, json.load(open(oracle_file))


def ensure_fixture(scale):
    out = os.path.join(WORK, f"fixture-sf{scale}")
    if not os.path.exists(os.path.join(out, "done")):
        fixture.generate(out, scale)
        open(os.path.join(out, "done"), "w").write("ok")
    return out


# --------------------------------------------------------------- server

def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def java_cmd(cp, main, args, tmp):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}", "-cp", cp, main]
            + list(args))


def jvm_env(tmp, cpus):
    return dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=tmp)


class Server:
    def __init__(self, cp, fixture_dir, run_dir, cpus, tag):
        self.db = os.path.join(run_dir, f"db-{tag}")
        tmp = os.path.join(self.db, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.pg, self.ch = free_port(), free_port()
        self.log_path = os.path.join(run_dir, f"server-{tag}.log")
        self.t_launch = time.perf_counter()
        self.proc = subprocess.Popen(
            java_cmd(cp, "graft.server.ServerMain",
                     [str(self.pg), str(self.ch), fixture_dir, "--auth=false",
                      f"--db_path={self.db}"], tmp),
            env=jvm_env(tmp, cpus), stdout=open(self.log_path, "w"), stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)

    def wait_ready(self):
        """Seconds from launch until both ports answer a first query."""
        pg_ok = ch_ok = False
        while time.perf_counter() - self.t_launch < READY_TIMEOUT_S:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited early, see {self.log_path}")
            try:
                if not pg_ok:
                    c = clients.PgClient(self.pg)
                    pg_ok = c.simple("SELECT 1").error is None
                    c.close()
                if pg_ok and not ch_ok:
                    h = clients.ChClient(self.ch)
                    ch_ok = h.select("SELECT 1").error is None
                    h.close()
            except OSError:
                pass
            if pg_ok and ch_ok:
                return time.perf_counter() - self.t_launch
            time.sleep(0.02)
        raise RuntimeError("server not ready in time")

    def cpu_s(self):
        with open(f"/proc/{self.proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return float("nan")

    def stop(self):
        # nothing the server holds outlives the run (its warehouse is
        # deleted with the run directory), so no graceful shutdown
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


# -------------------------------------------------------------- clients

class Tally:
    """Rows received by one statement, split at the window bounds (the
    clock is read every 1024 rows and once more when the reply ends)."""

    def __init__(self, t_start, deadline):
        self.t_start = t_start
        self.deadline = deadline
        self.n = 0
        self.pre = 0      # rows received before the window opened
        self.before = 0   # rows received before the window closed

    def tick(self):
        self.n += 1
        if not self.n & 1023:
            self.mark(time.perf_counter())

    def mark(self, now):
        if now < self.t_start:
            self.pre = self.n
        if now < self.deadline:
            self.before = self.n

    @property
    def in_window(self):
        return max(0, self.before - self.pre)


def make_sink(st, tally, collect):
    """(pg_sink, ch_sink) for one statement; `collect` gathers cells for
    small results, export sinks fold the key column into a checksum."""
    if st["check"][0] == "export":
        acc = collect
        if st["proto"] == "pg":
            if st.get("fmt") == 1:
                def pg(buf, start):
                    tally.tick()
                    acc[0] += _Q.unpack_from(buf, start + 6)[0]
            else:
                def pg(buf, start):
                    tally.tick()
                    (ln,) = _I32.unpack_from(buf, start + 2)
                    acc[0] += int(buf[start + 6:start + 6 + ln])
            return pg, None
        json_fmt = st.get("fmt") == "JSONEachRow"

        def ch(lines):
            for line in lines:
                tally.tick()
                if json_fmt:
                    acc[0] += int(line[line.index(b":") + 1:line.index(b",")])
                else:
                    acc[0] += int(line[:line.index(b"\t")])
        return None, clients.line_sink(ch)

    def pg(buf, start):
        tally.tick()
        collect.append(clients.row_cells(buf, start))

    def ch(lines):
        for line in lines:
            tally.tick()
            collect.append(line.split(b"\t"))
    return pg, clients.line_sink(ch)


def execute(conn, st, pg_sink, ch_sink):
    call = st["call"]
    if call == "simple":
        return conn.simple(st["sql"], sink=pg_sink)
    if call == "extended":
        return conn.extended(st["sql"], st.get("params", []), st.get("fmt", 0), sink=pg_sink)
    if call == "copy":
        return conn.copy_in(st["sql"], st["payload"])
    if call == "ch_select":
        return conn.select(st["sql"], sink=ch_sink)
    return conn.insert(st["sql"], st["payload"])


def wire_bytes(st):
    """The exact client→server bytes of a PG statement, for the replay's
    decode span."""
    if st["call"] == "simple":
        return clients.encode_simple(st["sql"])
    if st["call"] == "copy":
        return clients.encode_simple(st["sql"]) + clients.encode_copy_data(st["payload"])
    return clients.encode_extended(st["sql"], st.get("params", []), st.get("fmt", 0))


class Verifier:
    """Checks each reply against its expectation; collects ingest facts
    that are checked against the tables once the window closes."""

    def __init__(self, exp):
        self.exp = exp
        self.lock = threading.Lock()
        self.ingested = {}   # table -> [rows, key_sum]

    def check(self, st, reply, cells):
        """None when the reply is right, else why not. `cells` is what the
        statement's sink collected."""
        if reply.error:
            return f"{reply.code}: {reply.error[:200]}"
        chk = st["check"]
        what = chk[0]
        ch = st["proto"] == "ch"
        if what == "rows":
            if chk[1] is None:
                return None if len(cells) == 1 else f"expected 1 row, got {len(cells)}"
            got = [[c.decode() if c is not None else None for c in r] for r in cells]
            return None if got == chk[1] else f"expected {chk[1]}, got {got[:3]}"
        if what == "lookup":
            want = self.exp["lookups"][chk[1]].get(chk[2])
            if len(cells) != 1 or want is None:
                return f"lookup {chk[1]}[{chk[2]}]: {len(cells)} rows"
            a, b = cells[0]
            ok = a.decode() == want[0] and abs(float(b) - want[1]) <= 1e-9 * max(1, abs(want[1]))
            return None if ok else f"lookup {chk[1]}[{chk[2]}]: {cells[0]} != {want}"
        if what == "digest":
            d = expect.Digest()
            for r in cells:
                d.add([expect.canon_text(c, ch) for c in r])
            got = d.to_json()
            want = self.exp["digests"][chk[1]]
            return None if expect.matches(got, want) else \
                f"{chk[1]}: rows {got['rows']} vs {want['rows']}, checksum differs"
        if what == "export":
            want = self.exp["tables"][chk[1] if chk[2] is None else f"{chk[1]}/{chk[2]}"]
            key_sum, tally = cells
            ok = tally.n == want["rows"] and key_sum == want["key_sum"]
            return None if ok else f"export {chk[1]}: {tally.n} rows, key sum {key_sum} vs {want}"
        if what == "ingest":
            table, key, n = chk[1], chk[2], chk[3]
            if not ch and reply.tag != f"COPY {n}":
                return f"copy tag {reply.tag!r}"
            with self.lock:
                acc_t = self.ingested.setdefault(table, [0, 0])
                acc_t[0] += n
                acc_t[1] += n * key + n * (n - 1) // 2
            return None
        return f"unknown check {what}"


def prime(conns, per_client, verifier):
    """Runs each client's priming statements, in parallel across clients
    and unmeasured; returns the failures and the statements sent."""
    errors, sent = [], {}

    def run(i):
        for st in per_client[i]:
            tally = Tally(0.0, 0.0)
            collect = []
            pg_sink, ch_sink = make_sink(st, tally, collect)
            err = verifier.check(st, execute(conns[i], st, pg_sink, ch_sink), collect)
            if err:
                errors.append(f"prime {st['kind']}/{st.get('name')}: {err}")
            sent.setdefault(i, []).append((st, False))
    threads = [threading.Thread(target=run, args=(i,)) for i in per_client]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return errors, sent


def run_clients(streams, conns, verifier, warmup, seconds, record, server_cpu):
    """Closed loop on every connection for `warmup` + `seconds`; only the
    last `seconds` are measured. Returns samples, the window bounds, the
    recorded replies for the ceiling check and the statements sent up to
    the middle of the window: the traced replay runs each of those twice
    (spans off and on), and a whole window twice over does not fit a traced
    bulk run in its time limit. Every half window holds the same mix of
    statement types (workloads.cycle)."""
    t_start = time.perf_counter() + warmup
    deadline = t_start + seconds
    t_record_end = t_start + seconds / 2
    samples = [[] for _ in streams]
    cpu = []
    recordings = {}
    sent = [[] for _ in streams]
    rec_lock = threading.Lock()

    def loop(i):
        conn, stream = conns[i], streams[i]
        for st in stream:
            if time.perf_counter() >= deadline:
                return
            tally = Tally(t_start, deadline)
            collect = [0, tally] if st["check"][0] == "export" else []
            pg_sink, ch_sink = make_sink(st, tally, collect)
            key = (st["proto"], st["kind"])
            with rec_lock:
                rec = key not in recordings
                if rec:
                    recordings[key] = None
            if rec:
                conn.recorded = bytearray()
            t0 = time.perf_counter()
            try:
                reply = execute(conn, st, pg_sink, ch_sink)
            except (OSError, clients.WireError, ValueError) as e:
                reply = clients.Reply()
                reply.error, reply.code, reply.t_end = str(e), "client", time.perf_counter()
            if rec:
                with rec_lock:
                    recordings[key] = (st, bytes(conn.recorded))
                conn.recorded = None
            tally.mark(reply.t_end)
            err = verifier.check(st, reply, collect)
            samples[i].append(dict(
                kind=st["kind"], op=st["op"], proto=st["proto"], t0=t0, t_first=reply.t_first,
                t_end=reply.t_end, rows=tally.n, rows_in_window=tally.in_window,
                rows_in=st.get("rows_in", 0), err=err, name=st.get("name")))
            if record and t0 < t_record_end:
                sent[i].append((st, t0 >= t_start))
            if reply.code == "client":
                return

    def clock():
        for edge in (t_start, deadline):
            time.sleep(max(0.0, edge - time.perf_counter()))
            cpu.append((server_cpu(), time.process_time()))

    threads = [threading.Thread(target=loop, args=(i,)) for i in range(len(streams))]
    threads.append(threading.Thread(target=clock))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return samples, t_start, deadline, recordings, sent, cpu


# -------------------------------------------------------------- metrics

def pct(values, q):
    if not values:
        return float("nan")
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def typed_pct(samples, q, ms):
    """Percentile `q` of `ms(sample)` within each statement type, combined
    as a geometric mean over the types. Each workload mixes statement types
    whose latencies differ by 2-5x; a percentile pooled over the mix sits
    between two of those clusters and jumps from one to the other when the
    host slows a little (bulk's pooled read p50 moved 1.64x between ten
    runs while its throughput moved 1.44x). Per type, it moves with them."""
    by_kind = {}
    for s in samples:
        by_kind.setdefault((s["proto"], s["kind"]), []).append(ms(s))
    if not by_kind:
        return float("nan")
    return math.exp(sum(math.log(pct(sorted(v), q)) for v in by_kind.values())
                    / len(by_kind))


def summarize(samples, t_start, deadline):
    window = deadline - t_start
    done = [s for c in samples for s in c if t_start <= s["t0"] and s["t_end"] <= deadline]
    ok = [s for s in done if not s["err"]]
    reads = [s for s in ok if s["op"] == "read"]
    writes = [s for s in ok if s["op"] == "write"]

    def lat(s):
        return (s["t_end"] - s["t0"]) * 1e3

    def first(s):
        return (s["t_first"] - s["t0"]) * 1e3
    rows_out = sum(s["rows_in_window"] for c in samples for s in c if not s["err"])
    rows_in = sum(s["rows_in"] for s in writes)
    by_kind = {}
    for s in ok:
        by_kind.setdefault((s["proto"], s["kind"]), []).append(lat(s))
    kinds = {f"{p}.{k}": {"n": len(v), "p50_ms": pct(sorted(v), 50), "p90_ms": pct(sorted(v), 90)}
             for (p, k), v in sorted(by_kind.items())}
    return {
        "window_s": window, "completed": len(done), "ok": len(ok),
        "stmt_per_s": len(ok) / window,
        "read_p50_ms": typed_pct(reads, 50, lat), "read_p90_ms": typed_pct(reads, 90, lat),
        "reads": len(reads),
        "first_row_p50_ms": typed_pct([s for s in reads if s["t_first"]], 50, first),
        "rows_out_per_s": rows_out / window,
        "write_p50_ms": typed_pct(writes, 50, lat), "write_p90_ms": typed_pct(writes, 90, lat),
        "writes": len(writes),
        "rows_in_per_s": rows_in / window,
        "kinds": kinds,
    }


# ------------------------------------------------------- ceiling check

class _Replay:
    def __init__(self, data):
        self.data = data
        self.pos = 0

    def __call__(self, n):
        d = self.data[self.pos:self.pos + n]
        self.pos += len(d)
        return d


def client_cost_s(st, data, deadline_far):
    """Seconds the client spends encoding `st` and decoding its recorded
    reply, measured offline with no server running."""
    reps = max(1, min(200, int(2e6 // max(1, len(data)))))
    t0 = time.perf_counter()
    for _ in range(reps):
        tally = Tally(0.0, deadline_far)
        collect = [0, tally] if st["check"][0] == "export" else []
        pg_sink, ch_sink = make_sink(st, tally, collect)
        if st["proto"] == "pg":
            if st["call"] == "copy":
                wire_bytes(st)
            else:
                clients.consume_pg(clients._Stream(_Replay(data)), clients.Reply(), pg_sink)
        else:
            tail = b""
            for i in range(0, len(data), 1 << 18):
                tail = ch_sink(tail + data[i:i + (1 << 18)]) if ch_sink else b""
    return (time.perf_counter() - t0) / reps


def ceiling(recordings, samples, elapsed):
    """Client busy time per second of run (warm-up included), from the
    offline decode/encode cost of each statement type times how often it
    ran."""
    far = time.perf_counter() + 1e9
    counts, rows = {}, {}
    for c in samples:
        for s in c:
            key = (s["proto"], s["kind"])
            counts[key] = counts.get(key, 0) + 1
            rows[key] = rows.get(key, 0) + s["rows"]
    report, busy = {}, 0.0
    for key, rec in recordings.items():
        if rec is None:
            continue
        st, data = rec
        cost = client_cost_s(st, data, far)
        n = counts.get(key, 0)
        busy += cost * n
        per_stmt_rows = max(1, rows.get(key, 0) // max(1, n))
        report[f"{key[0]}.{key[1]}"] = {
            "client_stmt_per_s": 1.0 / cost if cost else float("inf"),
            "client_rows_per_s": per_stmt_rows / cost if cost else float("inf"),
            "measured_stmt_per_s": n / elapsed,
            "measured_rows_per_s": rows.get(key, 0) / elapsed,
        }
    share = busy / elapsed
    return {"busy_share": share, "limit": CEILING_MAX_SHARE, "client_bound": share > CEILING_MAX_SHARE,
            "kinds": report}


# ------------------------------------------------------------- trace

def run_trace(cp, fixture_dir, run_dir, cpus, wl, sent, setup_sql):
    """In-process replay of the statements the wire run sent, spans off
    then on; returns the replay's JSON report."""
    stmts = os.path.join(run_dir, "stmts.tsv")

    def b64(b):
        return base64.b64encode(b if isinstance(b, bytes) else b.encode()).decode()
    with open(stmts, "w") as f:
        for sql in setup_sql:
            f.write("\t".join(["-1", "setup", "pg", "simple", "0", "0", b64(sql), "", ""]) + "\n")
        for client, lst in enumerate(sent):
            for st, in_window in lst:
                wire = wire_bytes(st) if st["proto"] == "pg" else b""
                f.write("\t".join([str(client), st["kind"], st["proto"], st["call"],
                                   str(st.get("fmt", 0)), "1" if in_window else "0",
                                   b64(st["sql"]), b64(st.get("payload", b"")), b64(wire)]) + "\n")
    db = os.path.join(run_dir, "db-trace")
    tmp = os.path.join(db, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "trace.json")
    spans = os.path.join(WORK, "traces", f"{wl}-spans.tsv")
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    proc = subprocess.run(
        java_cmd(cp, "perfbench.Trace",
                 [fixture_dir, db, stmts, str(len(sent)), out, spans], tmp),
        env=jvm_env(tmp, cpus), capture_output=True, text=True, timeout=150,
        stdin=subprocess.DEVNULL)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-3000:])
        raise RuntimeError("trace replay failed")
    return json.load(open(out))


# --------------------------------------------------------------- main

E2E_UNITS = {
    "setup_s": "s", "stmt_per_s": "1/s", "read_p50_ms": "ms", "read_p90_ms": "ms",
    "first_row_p50_ms": "ms", "rows_out_per_s": "1/s", "write_p50_ms": "ms",
    "write_p90_ms": "ms", "rows_in_per_s": "1/s", "failed_frac": "1",
    "server_cpu_ms_per_op": "ms", "server_rss_mb": "MB",
}


def bench_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def gaps_check(pg_port, oracle, gaps, verifier):
    """Re-run the known wire dialect gaps (untimed): which still fail, by
    error class or as a wrong answer, and which now answer like DuckDB."""
    c = clients.PgClient(pg_port)
    still, fixed = {}, []
    for name in sorted(gaps):
        st = dict(proto="pg", kind="gap", check=("digest", name))
        cells = []
        r = c.simple(oracle[name], sink=lambda b, s: cells.append(clients.row_cells(b, s)))
        if r.error:
            msg = r.error.strip()
            still[name] = msg[1:msg.index("]")] if msg.startswith("[") and "]" in msg \
                else msg.split(":")[0][:60]
        elif verifier.check(st, r, cells):
            still[name] = "WRONG_ANSWER"
        else:
            fixed.append(name)
    c.close()
    return {"count": len(still), "still_failing": still, "now_answered": fixed}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["light", "analytic", "bulk"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--scale", type=float, default=0.1)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found next to perfbench/ — run from a checkout "
                     "of the repository")
    e2e_units, layer_units = bench_metrics()
    cpus = os.cpu_count() or 1
    digest = _source_digest()
    cp, oracle = build(digest)
    fx = ensure_fixture(a.scale)
    gaps = json.load(open(os.path.join(HERE, "gaps.json")))["statements"]
    exp_path = os.path.join(WORK, f"expect-sf{a.scale}.json")
    names = sorted(set(workloads.ANALYTIC_MIX) | set(gaps))
    exp = json.load(open(exp_path)) if os.path.exists(exp_path) else None
    if exp is None or exp.get("names") != names or exp.get("version") != 2:
        exp = expect.compute(fx, oracle, names, exp_path)

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    srv = None
    try:
        # one launch per run: at sf0.1 it takes ~14 s on 4 cores, which is
        # all a run's share of the benchmark's time budget leaves room for
        srv = Server(cp, fx, run_dir, cpus, "s0")
        setup = srv.wait_ready()
        log(f"setup_s {setup:.2f}")

        n_clients = workloads.CLIENTS[a.workload]
        if a.workload == "light":
            wl = workloads.Light({t: len(v) for t, v in exp["lookups"].items()})
        elif a.workload == "analytic":
            wl = workloads.Analytic(oracle)
        else:
            wl = workloads.Bulk()
        streams = [wl.stream(i, workloads.client_rng(a.seed, i)) for i in range(n_clients)]
        setup_sql = workloads.SETUP_SQL[a.workload]
        c = clients.PgClient(srv.pg)
        for sql in setup_sql:
            r = c.simple(sql)
            if r.error:
                raise RuntimeError(f"setup statement failed: {sql}: {r.error}")
        c.close()
        conns = [clients.ChClient(srv.ch) if i in workloads.CH_CLIENTS[a.workload]
                 else clients.PgClient(srv.pg) for i in range(n_clients)]
        verifier = Verifier(exp)
        prime_err, primed = prime(conns, getattr(wl, "prime", dict)(), verifier)
        samples, t_start, deadline, recordings, sent, cpu = run_clients(
            streams, conns, verifier, WARMUP_S[a.workload], a.seconds, a.trace == 1, srv.cpu_s)
        for i, lst in primed.items():
            sent[i][:0] = lst
        (cpu0, ccpu0), (cpu1, ccpu1) = cpu
        for conn in conns:
            conn.close()
        summary = summarize(samples, t_start, deadline)

        # post-run ingest checks: count(*) and key sum of every target
        post_err = []
        c = clients.PgClient(srv.pg)
        for table in workloads.INGEST_TABLES[a.workload]:
            cells = []
            r = c.simple(f"SELECT count(*), coalesce(sum(k), 0) FROM {table}",
                         sink=lambda b, s: cells.append(clients.row_cells(b, s)))
            want = verifier.ingested.get(table, [0, 0])
            got = [int(x) for x in cells[0]] if cells else None
            if r.error or got != want:
                post_err.append(f"{table}: got {got or r.error}, want {want}")
        c.close()
        # the gap list is a property of the dialect layer, not of the
        # timed mix: traced runs (and analytic, which shares its oracle
        # statements) report it, untimed runs skip its ~6 s
        gap_report = None
        if a.workload == "analytic" or (a.workload == "light" and a.trace == 1):
            gap_report = gaps_check(srv.pg, oracle, gaps, verifier)
        rss = srv.peak_rss_mb()
        srv.stop()

        all_s = [s for cl in samples for s in cl]
        failed = [s for s in all_s if s["err"]]
        # statements (primed and measured) plus one ingest check per target
        attempted = len(all_s) + sum(len(v) for v in primed.values()) + \
            len(workloads.INGEST_TABLES[a.workload])
        n_failed = len(failed) + len(prime_err) + len(post_err)
        ceil = ceiling(recordings, samples, WARMUP_S[a.workload] + a.seconds)
        ops = max(1, summary["completed"])
        e2e = {
            "setup_s": setup,
            "stmt_per_s": summary["stmt_per_s"],
            "read_p50_ms": summary["read_p50_ms"], "read_p90_ms": summary["read_p90_ms"],
            "first_row_p50_ms": summary["first_row_p50_ms"],
            "rows_out_per_s": summary["rows_out_per_s"],
            "write_p50_ms": summary["write_p50_ms"], "write_p90_ms": summary["write_p90_ms"],
            "rows_in_per_s": summary["rows_in_per_s"],
            "failed_frac": n_failed / max(1, attempted),
            "server_cpu_ms_per_op": (cpu1 - cpu0) * 1e3 / ops,
            "server_rss_mb": rss,
        }
        layers = None
        if a.trace == 1:
            tr = run_trace(cp, fx, run_dir, cpus, a.workload, sent, setup_sql)
            layers = dict(tr["metrics"])
            residual = []
            for kind, st in tr["kinds"].items():
                wire = summary["kinds"].get(kind)
                if wire and st.get("untraced_p50_ms") is not None:
                    st["wire_p50_ms"] = wire["p50_ms"]
                    st["residual_ms"] = wire["p50_ms"] - st["untraced_p50_ms"]
                    residual.append((st["n"], st["residual_ms"]))
            layers["wire.residual_ms"] = sum(n * r for n, r in residual) / max(1, sum(n for n, _ in residual))
        correct = n_failed == 0 and not ceil["client_bound"]
        report = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "nproc": cpus, "SPARK_GRAFT_CPUS": cpus, "heap": HEAP, "scale": a.scale,
            "fixture": os.path.relpath(fx, ROOT), "commit": _commit(), "source_sha256": digest,
            "clients": n_clients,
            "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
            "reads": summary["reads"], "writes": summary["writes"],
            "completed": summary["completed"], "client_cpu_share": (ccpu1 - ccpu0) / a.seconds,
            "by_kind": summary["kinds"], "client_ceiling": ceil,
            "failures": [f"{s['proto']}.{s['kind']}{'/' + s['name'] if s['name'] else ''}: {s['err']}"
                         for s in failed][:20] + prime_err + post_err,
        }
        if gap_report is not None:
            report["dialect_gaps"] = gap_report
        if layers is not None:
            report["per_layer"] = {k: {"value": v, "unit": layer_units.get(k, "")} for k, v in layers.items()}
            report["trace_kinds"] = tr["kinds"]
            report["trace_check"] = tr["check"]
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        if ceil["client_bound"]:
            log(f"client-bound: the load generator was busy {ceil['busy_share']:.2f} of the run")
        for msg in report["failures"][:10]:
            log(f"FAILED {msg}")
        chosen = layers if a.trace == 1 else e2e
        units = layer_units if a.trace == 1 else e2e_units
        missing = [m for m in units if not isinstance(chosen.get(m), (int, float))
                   or chosen[m] != chosen[m]]
        if missing:
            raise RuntimeError(f"metrics not measured in this run: {missing}")
        print(json.dumps(report, default=str))
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": n_failed,
            "metrics": {m: {"value": chosen[m], "unit": u} for m, u in units.items()},
        }))
    finally:
        if srv is not None:
            srv.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
