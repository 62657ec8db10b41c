#!/usr/bin/env python3
"""The repository's benchmark: one command, four workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/NOTES.md for why each exists and what was left out):
  wire_query    4 closed-loop clients on the binary wire: seeded subset CTAS
                (reduce, or every 4th loop an aligned two-fragment sum),
                paged select, RS, drop, over two resident seeded fragments
  wire_ingest   4 closed-loop clients: create_frag, 4 chunked multi_insert
                runs, oph_export (classic/netcdf4/zarr), file_import of the
                export, select, RS, drops
  corpus        a fixed list of batch queries, then of streaming file-source
                queries, in-process under graft.Bench's session posture

The seed drives the wire workloads' data and parameters; the corpus inputs
are the committed tables under perfbench/data. Every output is checked. The
last line of stdout is the JSON result; with --trace 0 it carries the
end-to-end metrics, with --trace 1 the per-layer metrics.
"""
import argparse
import json
import os
import queue
import random
import shutil
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import stats  # noqa: E402
import wire  # noqa: E402
from cdf import write_cdf1  # noqa: E402

ROOT = build.ROOT
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
E2E = [m["name"] for m in SPEC["end_to_end"]]
LAYER = [m["name"] for m in SPEC["per_layer"]]
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}

# corpus: fixed lists, run in this order (NOTES.md says which queries of
# the longer lists were left out and why)
BATCH = ["d26_threshold_sweep", "d27_bloom_prefilter", "p25_label_propagation"]
STREAM = ["q49_dedup_filesource", "d13_dedup_stream_filesource"]
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected_digests.json")

ROWS, COLS = 50_000, 64       # each wire_query fragment: 25.6 MB of doubles
INSERT_ROWS, INSERT_RUNS = 1000, 4
CONTAINERS = ("classic", "netcdf4", "zarr")
WARM_LOOPS = 2                # per client, before the window opens
TAIL_PCT = 50                 # the window runs until this has 10 samples beyond
MIN_LOOPS = stats.min_samples(TAIL_PCT)
REPLAY_LOOPS = 6              # serial loops replayed by a traced run
JVM_HEAP = "3g"               # fixed and pre-touched, as a server is deployed

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def cpus():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- engine JVM

class Engine:
    """The engine's JVM (the harness main), its stdout demultiplexed into
    harness messages ("@@ " lines) and the service's listening port."""

    def __init__(self, args, run_dir, log):
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = (["java"] + ADD_OPENS + [
            f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(run_dir, 'hadoop')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-cp", build.classpath(), "perfbench.Harness"] + args)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()))
        self.t_spawn = time.perf_counter()
        self.log = open(log, "wb")
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log)
        self.msgs = queue.Queue()
        self.port = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for raw in self.proc.stdout:
            line = raw.decode("utf-8", "replace").rstrip("\n")
            if line.startswith("@@ "):
                self.msgs.put(json.loads(line[3:]))
            elif "listening on" in line:
                self.port.put(int(line.rsplit(" ", 1)[1]))
        self.msgs.put(None)

    def expect(self, event, timeout=170):
        m = self.msgs.get(timeout=timeout)
        if m is None:
            raise RuntimeError(f"engine exited (code {self.proc.wait()}) "
                               f"while waiting for {event}")
        if m.get("event") != event:
            raise RuntimeError(f"engine sent {m.get('event')} instead of {event}: {m}")
        return m

    def command(self, line, event):
        self.proc.stdin.write((line + "\n").encode())
        self.proc.stdin.flush()
        return self.expect(event)

    def stop(self):
        try:
            if self.proc.poll() is None:
                self.proc.stdin.write(b"quit\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=20)
        except (OSError, subprocess.TimeoutExpired):
            pass
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.log.close()


# ------------------------------------------------------------ wire workloads

class Spans:
    """Client-side spans of a traced wire run, on the JVM's epoch-ms clock.
    Their ids sit far above the JVM's so the two sets can be merged."""

    def __init__(self):
        self.rows = []
        self.next = 10 ** 9
        self.lock = threading.Lock()

    def new_id(self):
        with self.lock:
            self.next += 1
            return self.next

    def put(self, sid, parent, req, name, start, end):
        with self.lock:
            self.rows.append([sid, parent, req, name, start * 1000, end * 1000])


def subset_ids(start, stride, last, limit):
    return np.arange(start, last + 1, stride, dtype=np.int64)[:limit]


def blocked_avg(x, block):
    """oph_avg over consecutive blocks, summed left to right like the engine."""
    r = x.reshape(x.shape[0], -1, block)
    acc = r[:, :, 0].copy()
    for k in range(1, block):
        acc = acc + r[:, :, k]
    return acc / float(block)


def remove_path(path):
    if path is None:
        return
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        os.remove(path)


class QueryLoop:
    """wire_query: one client's loop over the resident fragments A and B."""

    def __init__(self, data, seed, client):
        self.A, self.B, self.red = data
        self.rng = random.Random(f"{seed}:query:{client}")
        self.client = client

    # the traffic mix: every 4th loop joins A and B
    MIX = {"reduce": 0.75, "join": 0.25}

    @staticmethod
    def stratum(i):
        return "join" if i % 4 == 3 else "reduce"

    def prepare(self, i):
        """The loop's statements as (kind, query, insert args), the page the
        RS must return and the file the loop leaves behind (None here)."""
        start = self.rng.randint(1, 1000)
        stride = self.rng.randint(1, 7)
        last = self.rng.randint(ROWS // 2, ROWS)
        out = f"q{self.client}_{i}"
        where = f"where=oph_is_in_subset(id_dim,{start},{stride},{last})"
        ids = subset_ids(start, stride, last, 1000)
        if self.stratum(i) == "join":
            ctas = ("join_ctas", "operation=create_frag_select;frag_name=%s;"
                    "field=id_dim|oph_sum_array('oph_double','oph_double',"
                    "t1.measure,t2.measure);field_alias=id_dim|measure;"
                    "from=A|B;%s" % (out, where))
            want = self.A[ids - 1] + self.B[ids - 1]
        else:
            ctas = ("ctas", "operation=create_frag_select;frag_name=%s;"
                    "field=id_dim|oph_reduce('oph_double','oph_double',measure,"
                    "'oph_avg',8);field_alias=id_dim|measure;from=A;%s" % (out, where))
            want = self.red[ids - 1]
        stmts = [ctas + (None,),
                 ("select", f"operation=select;field=id_dim|measure;from={out};"
                            "order=id_dim;limit=1000", None),
                 ("rs", None, None),
                 ("drop", f"operation=drop_frag;frag_name={out}", None)]
        return stmts, (ids, want), None


class IngestLoop:
    """wire_ingest: one client's create/insert/export/import/select loop."""

    def __init__(self, run_dir, seed, client):
        self.rng = np.random.default_rng([seed, client])
        self.dir = run_dir
        self.client = client

    # the traffic mix: the export containers in turn
    MIX = {c: 1 / len(CONTAINERS) for c in CONTAINERS}

    def stratum(self, i):
        return CONTAINERS[(i + self.client) % len(CONTAINERS)]

    def prepare(self, i):
        f, g = f"in{self.client}_{i}", f"im{self.client}_{i}"
        container = self.stratum(i)
        path = os.path.join(self.dir, f"export_{f}.{container}")
        vals = self.rng.standard_normal((INSERT_ROWS * INSERT_RUNS, COLS))
        marks = "|".join(f"?{k}" for k in range(1, 2 * INSERT_ROWS + 1))
        stmts = [("create", f"operation=create_frag;frag_name={f};"
                            "column_name=id_dim|measure;column_type=long|double_array",
                  None)]
        for r in range(INSERT_RUNS):
            args = []
            for row in range(r * INSERT_ROWS, (r + 1) * INSERT_ROWS):
                args.append(wire.arg_long(row + 1))
                args.append(wire.arg_blob(vals[row].astype("<f8").tobytes()))
            stmts.append(("insert", f"operation=multi_insert;frag_name={f};"
                                    f"field=id_dim|measure;value={marks}",
                          (args, INSERT_RUNS, r + 1)))
        stmts += [("export", "operation=function;function_name=oph_export;"
                             f"function_args={f}|{path}|{container}", None),
                  ("import", f"operation=file_import;frag_name={g};"
                             f"src_path={path};measure=measure", None),
                  ("select", f"operation=select;field=id_dim|measure;from={g};"
                             "order=id_dim;limit=100", None),
                  ("rs", None, None),
                  ("drop", f"operation=drop_frag;frag_name={f}", None),
                  ("drop", f"operation=drop_frag;frag_name={g}", None)]
        return stmts, (np.arange(1, 101, dtype=np.int64), vals[:100]), path


def run_loop(cl, stmts, spans, req, lat_by_kind):
    """One closed-loop iteration: returns (latency s, RS page). Raises
    CheckError on an ER reply and WireError on broken framing."""
    loop_id = spans.new_id() if spans else None
    t0 = time.time()
    page = None
    for kind, q, ins in stmts:
        s = time.time()
        if kind == "rs":
            page = cl.rs()
            if page is None:
                raise checks.CheckError("RS answered ER")
        else:
            tag = cl.eq(q, *ins) if ins else cl.eq(q)
            if tag != "EQ":
                raise checks.CheckError(f"{kind} answered {tag}")
        if spans is not None:
            e = time.time()
            spans.put(spans.new_id(), loop_id, req, "service.op", s, e)
            lat_by_kind.setdefault(kind, []).append(
                (e - s, cl.last_rs_bytes if kind == "rs" else 0))
    t1 = time.time()
    if spans is not None:
        spans.put(loop_id, -1, req, "client.loop", t0, t1)
    return t1 - t0, page


def wire_workload(a, run_dir, log):
    n = cpus()
    trace = a.trace == 1
    eng = Engine(["serve", str(a.trace)], run_dir, log)
    res = {"attempted": 0, "failed": 0, "errors": []}
    try:
        eng.expect("ready")
        port = eng.port.get(timeout=170)
        c0 = wire.Client(port)
        if c0.use() != "UD":
            raise RuntimeError("UD refused")
        data = None
        if a.workload == "wire_query":
            rng = np.random.default_rng(a.seed)
            A = rng.standard_normal((ROWS, COLS)) * 100.0
            B = rng.standard_normal((ROWS, COLS)) * 100.0
            for name, arr in (("A", A), ("B", B)):
                path = os.path.join(run_dir, f"{name}.nc")
                write_cdf1(path, "measure", arr)
                if c0.eq(f"operation=file_import;frag_name={name};"
                         f"src_path={path};measure=measure") != "EQ":
                    raise RuntimeError(f"file_import of {name} refused")
            data = (A, B, blocked_avg(A, 8))
        setup_s = time.perf_counter() - eng.t_spawn

        def make(k):
            return (QueryLoop(data, a.seed, k) if a.workload == "wire_query"
                    else IngestLoop(run_dir, a.seed, k))

        mix = QueryLoop.MIX if a.workload == "wire_query" else IngestLoop.MIX
        spans = Spans() if trace else None
        lat_by_kind = {}
        window = {}
        done = []          # latencies of loops that ended inside the window
        io = {"in": 0, "out": 0}
        lock = threading.Lock()
        errors = []

        def open_window():
            eng.command("mark", "marked")
            window["open"], window["open_ms"] = time.perf_counter(), time.time() * 1000

        warm = threading.Barrier(n, action=open_window)

        def client(k):
            try:
                cl = wire.Client(port)
                cl.use()
                gen = make(k)
                i = 0
                while "close" not in window:
                    if i == WARM_LOOPS:
                        warm.wait(timeout=170)
                    counted = i >= WARM_LOOPS
                    stmts, want, path = gen.prepare(i)
                    b_in, b_out = cl.bytes_out, cl.bytes_in
                    with lock:
                        res["attempted"] += counted
                    try:
                        lat, page = run_loop(cl, stmts, spans if counted else None,
                                             f"c{k}-{i}", lat_by_kind)
                        checks.check_page(page, *want)
                        if counted and time.perf_counter() <= window.get("close", 1e300):
                            with lock:
                                done.append((gen.stratum(i), lat))
                                io["in"] += cl.bytes_out - b_in
                                io["out"] += cl.bytes_in - b_out
                    except (checks.CheckError, wire.WireError) as e:
                        with lock:
                            res["failed"] += counted
                            res["errors"].append(str(e)[:200])
                        if isinstance(e, wire.WireError):
                            raise  # the stream is out of sync
                        for kind, q, _ in stmts:
                            if kind == "drop":
                                cl.eq(q)
                    finally:
                        remove_path(path)
                    i += 1
                cl.close()
            except Exception as e:  # a dead client must not hang the others
                errors.append(repr(e))
                warm.abort()

        threads = [threading.Thread(target=client, args=(k,)) for k in range(n)]
        for t in threads:
            t.start()
        while "open" not in window and not errors:
            time.sleep(0.02)
        if errors:
            raise RuntimeError("client died: " + errors[0])
        deadline = window["open"] + a.seconds
        cap = window["open"] + max(6 * a.seconds, 60)
        while not errors:
            time.sleep(0.02)
            now = time.perf_counter()
            with lock:
                enough = (len(done) >= MIN_LOOPS and
                          len({k for k, _ in done}) == len(mix))
            if (now >= deadline and enough) or now >= cap:
                break
        with lock:
            window["close"] = time.perf_counter()
            window["close_ms"] = time.time() * 1000
        for t in threads:
            t.join(timeout=170)
        if errors:
            raise RuntimeError("client died: " + errors[0])
        st = eng.command("stats", "stats")
        if len(done) < MIN_LOOPS or len({k for k, _ in done}) < len(mix):
            raise RuntimeError(f"{len(done)} loops in the window: p{TAIL_PCT} needs "
                               f"{MIN_LOOPS}, and every kind of loop once")
        res["samples"] = [lat for _, lat in done]
        res["e2e"] = {
            "setup_s": setup_s,
            "peak_rss_mb": st["peak_rss_b"] / 2 ** 20,
            "ops_per_s": n / stats.mixed_mean(done, mix),
            "op_geomean_ms": stats.mixed_geomean(done, mix) * 1000,
            "cpu_ms_per_op": st["cpu_s"] * 1000 / len(done),
        }
        if trace:
            res["layers"] = wire_layers(eng, c0, make(n), run_dir, st, spans,
                                        lat_by_kind, io, len(done), window)
        c0.close()
    finally:
        eng.stop()
    return res


def wire_layers(eng, c0, gen, run_dir, st, spans, lat_by_kind, io, loops, window):
    """Per-layer figures of a traced wire run: a serial replay of a few loops
    on the wire, the same statements in-process, and the window's counters."""
    L = {"service.pg_rtt_us": stats.median([c0.ping() for _ in range(50)]) * 1e6}
    replay, wire_ms = [], []
    for i in range(REPLAY_LOOPS):
        stmts, _, path = gen.prepare(i)
        for kind, q, ins in stmts:
            s = time.perf_counter()
            if kind == "rs":
                c0.rs()
                continue
            if (c0.eq(q, *ins) if ins else c0.eq(q)) != "EQ":
                raise RuntimeError(f"replayed {kind} answered ER")
            wire_ms.append((time.perf_counter() - s) * 1000)
        remove_path(path)
        # the same statements in-process; IoService turns the chunked-run
        # frame fields into query text, so the replay does the same
        replay.append([[k, q.replace("export_", "inproc_")] if not ins else
                       [k, f"{q};tot_run={ins[1]};curr_run={ins[2]}",
                        (ins[2] - 1) * INSERT_ROWS + 1]
                       for k, q, ins in stmts if k != "rs"])
    req = {"loops": replay, "cols": COLS}
    if isinstance(gen, QueryLoop):
        req["imports"] = [[f, os.path.join(run_dir, f"{f}.nc")] for f in ("A", "B")]
        req["functions"] = "A"
    else:
        req["sources"] = {"dir": run_dir, "rows": 20000, "cols": COLS}
    pr = eng.command("probe " + json.dumps(req), "probe")
    for loop in replay:
        for st_ in loop:
            if st_[0] == "export":
                remove_path(st_[1].rsplit("|", 2)[1])
    L["service.eq_overhead_ms"] = stats.median(
        [w - p for w, p in zip(wire_ms, pr["statement_ms"])])
    rs = lat_by_kind.get("rs", [])
    mb = sum(b for _, b in rs) / 1e6
    L["service.rs_ms_per_mb"] = sum(t for t, _ in rs) * 1000 / mb if mb else 0.0
    L["service.bytes_in_per_loop"] = io["in"] / loops
    L["service.bytes_out_per_loop"] = io["out"] / loops
    for kind in ("ctas", "join_ctas", "select", "import", "export", "drop"):
        L[f"engine.{kind}_ms"] = stats.median(pr["exec_ms"].get(kind, []))
    # one loop's chunked runs together: the last one commits the fragment
    L["engine.insert_ms"] = sum(pr["exec_ms"].get("insert", [])) / REPLAY_LOOPS
    c0.eq("operation=select;field=id_dim|frag_name;from=@info_system_table")
    page = c0.rs()
    L["engine.frags_resident_end"] = page[0] if page else -1
    L["dialect.parse_us"] = stats.median(pr["parse_us"])
    L["dialect.compile_us"] = stats.median(pr["compile_us"])
    for k, v in pr.get("functions", {}).items():
        L[f"functions.{k}"] = v
    for c, v in pr.get("sources", {}).items():
        for k, x in v.items():
            L[f"sources.{k}.{c}"] = x
    jvm = stats.spans_from_rows(pr["spans"])
    jobs = [(s["start"], s["end"]) for s in jvm if s["name"] == "spark.job"]
    window_s = window["close"] - window["open"]
    idle = stats.uncovered(window["open_ms"], window["close_ms"], jobs) / 1000
    L.update(spark_layers(st["listeners"], window_s, loops, idle, cpus()))
    L.update(self_layers(stats.spans_from_rows(spans.rows), loops))
    replayed = [s for s in stats.nest_orphans(jvm) if s["name"] != "spark.job"
                or s["parent"] != -1]
    L.update(self_layers(replayed, REPLAY_LOOPS))
    return L


# ---------------------------------------------------------- corpus workloads

def corpus_workload(a, run_dir, log):
    names = BATCH + STREAM
    expected = json.load(open(EXPECTED))
    eng = Engine(["corpus", DATA, ",".join(names), str(a.seconds), str(a.trace)],
                 run_dir, log)
    try:
        eng.expect("ready")
        setup_s = time.perf_counter() - eng.t_spawn
        r = eng.expect("result", timeout=175)
    finally:
        eng.stop()
    res = {"attempted": 0, "failed": 0, "errors": []}
    times = {}
    for q in r["queries"]:
        res["attempted"] += 1
        try:
            checks.check_digest(q, expected.get(q["query"]))
            times.setdefault(q["query"], []).append(q["s"])
        except checks.CheckError as e:
            res["failed"] += 1
            res["errors"].append(str(e)[:200])
    per_q = {n: stats.median(ts) for n, ts in times.items()}
    print("[perfbench] per-query s: " + ", ".join(f"{n} {t:.2f}" for n, t in per_q.items()),
          file=sys.stderr)
    ok = list(per_q.values())
    if not ok:
        raise SystemExit("perfbench: every corpus query failed: " + "; ".join(res["errors"]))
    res["samples"] = ok
    res["e2e"] = {
        "setup_s": setup_s,
        "peak_rss_mb": r["peak_rss_b"] / 2 ** 20,
        "ops_per_s": 1 / stats.mean(ok),
        "op_geomean_ms": stats.geomean(ok) * 1000,
        "cpu_ms_per_op": r["cpu_s"] * 1000 / max(1, res["attempted"]),
    }
    if a.trace == 1:
        L = {f"op.{n}_s": per_q.get(n, 0.0) for n in BATCH + STREAM}
        spans = stats.nest_orphans(stats.spans_from_rows(r["spans"]))
        qspans = [s for s in spans if s["name"] == "query"]
        jobs = [(s["start"], s["end"]) for s in spans if s["name"] == "spark.job"]
        driver_only = sum(stats.uncovered(s["start"], s["end"], jobs) for s in qspans) / 1000
        L.update(spark_layers(r["listeners"], r["wall_s"], len(qspans),
                              driver_only / max(1, r["passes"]), r["cores"]))
        L.update(stream_layers(r["listeners"]))
        L.update(self_layers(spans, len(qspans)))
        res["layers"] = L
    return res


# ------------------------------------------------------------ layer figures

def spark_layers(li, wall_s, requests, driver_only_s, cores):
    mb = 1 / 2 ** 20
    return {
        "spark.jobs": li["jobs"], "spark.stages": li["stages"],
        "spark.tasks": li["tasks"],
        "spark.shuffle_write_mb": li["shuffle_write_b"] * mb,
        "spark.shuffle_read_mb": li["shuffle_read_b"] * mb,
        "spark.spill_mb": li["spill_b"] * mb,
        "spark.gc_s": li["gc_ms"] / 1000,
        "spark.core_util": li["run_ms"] / 1000 / (wall_s * cores),
        "spark.driver_only_s": driver_only_s,
        "spark.cached_mb_peak": li["cached_peak_b"] * mb,
        "spark.plan_ms": li["plan_ms"] / max(1, requests),
        "trace.callback_ms": li["callback_ms"],
    }


def stream_layers(li):
    ph = li["phases"]
    out = {f"stream.{p}_ms": stats.median(ph[p]) for p in
           ("addBatch", "walCommit", "commitOffsets", "queryPlanning",
            "getBatch", "latestOffset", "triggerExecution")}
    out["stream.batches"] = li["batches"]
    out["stream.data_batch_ratio"] = li["data_batches"] / li["batches"] if li["batches"] else 0.0
    return out


SELF_NAMES = ("client.loop", "service.op", "statement", "dialect.parse",
              "dialect.compile", "engine.execute", "query", "spark.job")


def self_layers(spans, requests):
    tot, _ = stats.self_by_name(spans)
    return {f"self.{n}_ms": tot[n] / max(1, requests) for n in SELF_NAMES if n in tot}


# ---------------------------------------------------------------------- main

def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in SPEC["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    build.classpath()  # builds once per checkout; not part of any metric
    out = build.build_dir()
    run_dir = os.path.join(out, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    log = os.path.join(out, f"{a.workload}.log")
    try:
        if a.workload.startswith("wire_"):
            res = wire_workload(a, run_dir, log)
        else:
            res = corpus_workload(a, run_dir, log)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for e in res["errors"][:5]:
        print(f"[perfbench] failure: {e}", file=sys.stderr)
    if a.trace == 1:
        L = {n: 0.0 for n in LAYER}
        L.update({k: v for k, v in res["layers"].items() if k in L})
        L["trace.op_geomean_ms"] = res["e2e"]["op_geomean_ms"]
        metrics = {n: {"value": float(L[n]), "unit": UNITS[n]} for n in LAYER}
    else:
        metrics = {n: {"value": float(res["e2e"][n]), "unit": UNITS[n]} for n in E2E}
    lat = res["samples"]
    tail = stats.highest_percentile(lat)
    print(f"[perfbench] {a.workload} seed={a.seed}: {len(lat)} timed operations, "
          f"median {stats.median(lat) * 1000:.1f} ms, "
          + (f"highest percentile with 10 samples beyond it: p{tail[0]} "
             f"{tail[1] * 1000:.1f} ms" if tail else
             "no percentile has 10 samples beyond it"))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
