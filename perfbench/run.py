#!/usr/bin/env python3
"""The repo benchmark: TCP ingest latency and throughput, corpus dedup.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the program from
`src/main/scala` together with the harness in `perfbench/src` into
`.bench_build/`; later runs reuse the build while the sources are
unchanged. See perfbench/README.md for the workloads, the metrics and
how each is measured.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (the end-to-end metrics untraced, the per-layer metrics with
--trace 1). The lines before it print the same figures by name, with
units and sample counts.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import queue
import re
import shutil
import socket
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

BUILD = ".bench_build"
WORKLOADS = ("ingest_paced", "corpus_dedup")
QUERIES = ("dedup_minhash_lsh", "dedup_minhash_incremental", "dedup_cc",
           "text_salient_terms", "text_classifier_score")

SETUPS = 2               # set-ups per run; setup_s is their median
PACED_RATE = 10000       # msg/s offered on one connection (BASELINE's rate)
WARMUP_LINES = 1000      # one spool file, so one warm-up micro-batch per set-up
WARMUP_SEQ = 1000000000  # warm-up seqs start here, clear of measured ones
CORPUS_DOCS = 5000       # sf0.1's documents row count
WARM_DOCS = 500
MIN_PASSES = 2           # corpus passes per phase, at least
TRIGGER = "ProcessingTime(0)"
# the engine heap the repository's own run configuration (build.sbt) gives
JVM_HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
SEQ_RE = re.compile(rb"(?i)seq\W{0,3}(\d+)")



def _benchmark():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def _metric_names():
    """End-to-end and per-layer metric names and units, from BENCHMARK.json."""
    b = _benchmark()
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])


class BenchError(Exception):
    pass


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pct(values, q):
    """Nearest-rank percentile."""
    v = sorted(values)
    if not v:
        return float("nan")
    return v[max(0, min(len(v) - 1, math.ceil(q * len(v)) - 1))]


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def spark_jars():
    """The Spark distribution's jars, which include the Scala compiler:
    $SPARK_HOME/jars, else the `unmanagedBase` directory build.sbt
    compiles the program against."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    if os.path.exists("build.sbt"):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BenchError("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def build():
    """Compile the program and the harness; returns the run classpath."""
    main_src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench_src = sorted(glob.glob(os.path.join("perfbench", "src", "*.scala")))
    if not main_src or not bench_src:
        raise BenchError("run from the repository root: src/main/scala and "
                         "perfbench/src must both hold sources")
    jars = spark_jars()
    h = hashlib.sha256()
    for f in main_src + bench_src:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    main_out, bench_out = os.path.join(out, "main"), os.path.join(out, "bench")
    cp = "%s:%s:%s/*" % (bench_out, main_out, jars)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(main_out)
    os.makedirs(bench_out)
    for dst, srcs, extra in ((main_out, main_src, ""), (bench_out, bench_src, main_out + ":")):
        args = os.path.join(out, "scalac-args")
        with open(args, "w") as fh:
            fh.write("\n".join(srcs))
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", jars + "/*", "scala.tools.nsc.Main",
             "-nowarn", "-d", dst, "-classpath", extra + jars + "/*", "@" + args],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BenchError("compile failed:\n" + r.stdout[-4000:])
        print("build %s: %d files in %.1f s" % (dst, len(srcs), time.time() - t0),
              file=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


# ---------------------------------------------------------------------------
# engine process
# ---------------------------------------------------------------------------

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class Engine:
    """The harness JVM. Protocol lines on its stdout start with '@@ '."""

    def __init__(self, cp, mode, work, params):
        pfile = os.path.join(work, "params.properties")
        with open(pfile, "w") as fh:
            for k, v in params.items():
                fh.write("%s=%s\n" % (k, str(v).replace("\\", "\\\\")))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", "-Xmx" + JVM_HEAP, "-Xss8m",
               "-Djava.io.tmpdir=" + tmp,
               "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
        for o in JDK_OPENS:
            cmd += ["--add-opens", o + "=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Harness", mode, pfile]
        self.log_path = os.path.join(work, "engine.log")
        self.log = open(self.log_path, "w")
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self.log, text=True, bufsize=1)
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            if line.startswith("@@ "):
                self.lines.put(line[3:].strip())
        self.lines.put(None)

    def expect(self, word, timeout):
        try:
            line = self.lines.get(timeout=timeout)
        except queue.Empty:
            raise BenchError("engine: no %s within %.0f s\n%s" % (word, timeout, self.tail()))
        if line is None or not line.startswith(word):
            raise BenchError("engine: expected %s, got %r\n%s" % (word, line, self.tail()))
        return line.split()[1:]

    def send(self, cmd):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def tail(self):
        self.log.flush()
        with open(self.log_path) as fh:
            return "".join(fh.readlines()[-30:])

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=20)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        self.log.close()


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def _send_paced(port, buf, offs, rate, t0):
    """Open loop: message j is due at t0 + j/rate and is sent as soon as
    it is due, whatever the engine does. Returns [(first, end, send_ns)]."""
    n = len(offs) - 1
    view = memoryview(buf)
    sends = []
    with socket.create_connection(("127.0.0.1", port)) as s:
        i = 0
        while i < n:
            now = time.time_ns()
            due = min(n, (now - t0) * rate // 1_000_000_000 + 1)
            if due > i:
                s.sendall(view[offs[i]:offs[due]])
                sends.append((i, due, now))
                i = due
            else:
                time.sleep(max(0, t0 + i * 1_000_000_000 // rate - now) / 1e9)
    return sends


def _phase_ingest(engine, port, stream, name, seconds, trace, sent_before):
    """One measured phase: `seconds` worth of messages at PACED_RATE, then
    wait until they are committed. Returns the generator's record of it."""
    engine.send("PHASE %s %d" % (name, trace))
    engine.expect("GO", 30)
    n = PACED_RATE * seconds
    first = stream.next_seq
    lines = stream.take(n)
    offs = [0]
    for ln in lines:
        offs.append(offs[-1] + len(ln))
    t0 = time.time_ns() + 5_000_000
    sends = _send_paced(port, b"".join(lines), offs, PACED_RATE, t0)
    due = {}     # seq -> due time (ns)
    late = []    # per message: send time - due time (ns)
    for a, b, at in sends:
        for j in range(a, b):
            d = t0 + j * 1_000_000_000 // PACED_RATE
            due[first + j] = d
            late.append(at - d)
    send_ns = sends[-1][2] - sends[0][2] if len(sends) > 1 else 1
    sent = sent_before + n
    engine.send("SENT %d" % sent)
    _committed, received, backlog = map(int, engine.expect("COMMITTED", 150))
    engine.send("END")
    engine.expect("ENDED", 30)
    return {"due": due, "late": late, "t0": t0, "sent": n, "send_ns": send_ns,
            "accepted": received, "backlog": backlog}


def _read_spool(spool_dir):
    """seq -> (spool file, file ctime ns) for every spooled line. A spool
    file's ctime is when it was renamed into the source's glob."""
    where = {}
    for path in glob.glob(os.path.join(spool_dir, "spool-*.log")):
        name = os.path.basename(path)
        ct = os.stat(path).st_ctime_ns
        with open(path, "rb") as fh:
            for line in fh:
                m = SEQ_RE.search(line)
                if m:
                    where[int(m.group(1))] = (name, ct)
    return where


def _read_source_log(cp_dir):
    """spool file -> streaming batch id, from the file source's log."""
    batch_of = {}
    for path in glob.glob(os.path.join(cp_dir, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    batch_of[os.path.basename(e["path"])] = int(e["batchId"])
    return batch_of


def _read_batches(work):
    out = []
    with open(os.path.join(work, "batches.tsv")) as fh:
        for line in fh:
            f = line.rstrip("\n").split("\t")
            if len(f) < 6:
                continue
            dur = dict((kv.split("=")[0], int(kv.split("=")[1])) for kv in f[5].split(",") if kv)
            out.append({"phase": f[0], "id": int(f[1]), "start_us": int(f[2]),
                        "end_us": int(f[3]), "rows": int(f[4]), "dur": dur})
    return out


def run_ingest(cp, work, seed, seconds, trace):
    with open(os.path.join(HERE, "pipeline.conf")) as fh:
        conf = fh.read()
    conf_path = os.path.join(work, "pipeline.conf")
    with open(conf_path, "w") as fh:
        fh.write(conf)
    params = {"work": os.path.abspath(work), "cpus": cpus(), "setups": SETUPS,
              "config": os.path.abspath(conf_path)}
    warm = []
    for i in range(SETUPS):
        ws = gen.SyslogStream(seed * 7919 + i + 1, first_seq=WARMUP_SEQ + i * 1_000_000)
        path = os.path.abspath(os.path.join(work, "warm-%d.txt" % i))
        with open(path, "wb") as fh:
            fh.write(b"".join(ws.take(WARMUP_LINES)))
        params["warmup.%d" % i] = path
        warm.append(ws)
    stream = gen.SyslogStream(seed)
    engine = Engine(cp, "ingest", work, params)
    try:
        port, setup_dir = engine.expect("READY", 150)
        port = int(port)
        # traced runs sandwich the traced phase between two untraced ones,
        # so that trace.overhead_share is not JVM warm-up
        order = ("untraced", "traced", "untraced_after") if trace else ("untraced",)
        phases, sent = {}, 0
        for name in order:
            phases[name] = _phase_ingest(engine, port, stream, name, seconds,
                                         int(name == "traced"), sent)
            sent += phases[name]["sent"]
        engine.send("EXIT")
        done = dict(kv.split("=") for kv in engine.expect("DONE", 60))
    finally:
        engine.close()

    # -- correctness: every seq exactly once, under the predicted route --
    expected = dict(stream.expected)
    expected.update(warm[-1].expected)
    seen = {}
    bad_rows = 0
    out_files = {}
    with open(os.path.join(work, "sink.tsv")) as fh:
        for line in fh:
            seq, program, route, app, f = line.rstrip("\n").split("\t")
            program = None if program == "\\N" else program
            if not seq or int(seq) not in expected:
                bad_rows += 1
                continue
            seq = int(seq)
            seen.setdefault(seq, []).append((program, route, app))
            out_files.setdefault(f, set()).add(seq)
    lost = dup = misrouted = 0
    for seq, want in expected.items():
        got = seen.get(seq, [])
        if not got:
            lost += 1
        elif len(got) > 1:
            dup += 1
        elif got[0] != want:
            misrouted += 1
    failed = lost + dup + misrouted + bad_rows
    checks = {"lost": lost, "duplicated": dup, "misrouted": misrouted,
              "unexpected_rows": bad_rows}

    # -- timing facts --
    spool = _read_spool(os.path.join(setup_dir, "spool", "s_net"))
    batch_of = _read_source_log(os.path.join(setup_dir, "cp"))
    batches = _read_batches(work)
    end_of = {b["id"]: b["end_us"] * 1000 for b in batches}
    setup_rows = [list(map(float, l.split("\t")))
                  for l in open(os.path.join(work, "setup.tsv")).read().split("\n") if l]

    def latencies(ph):
        lat, vis = [], []
        for seq, d in ph["due"].items():
            sp = spool.get(seq)
            if sp is None:
                continue
            vis.append((sp[1] - d) / 1e6)
            b = batch_of.get(sp[0])
            if b is not None and b in end_of:
                lat.append((end_of[b] - d) / 1e6)
        return lat, vis

    def throughput(ph):
        """Messages delivered / (last commit - first due time), and the count."""
        ends = [end_of[batch_of[spool[s][0]]] for s in ph["due"]
                if s in spool and spool[s][0] in batch_of and batch_of[spool[s][0]] in end_of]
        if not ends:
            return float("nan"), 0
        return len(ends) / ((max(ends) - ph["t0"]) / 1e9), len(ends)

    u = phases["untraced"]
    lat, _ = latencies(u)
    thr, n_delivered = throughput(u)
    metrics = {
        "setup_s": statistics.median(r[1] for r in setup_rows),
        "latency_p50_ms": pct(lat, 0.50),
        "latency_p99_ms": pct(lat, 0.99),
        "throughput_per_s": thr,
        "peak_rss_mb": int(done["rss_kb"]) / 1024.0,
    }
    samples = {"latency_p50_ms": len(lat), "latency_p99_ms": len(lat),
               "throughput_per_s": n_delivered, "setup_s": len(setup_rows)}
    info = {"input_shape": stream.shape(), "checks": checks, "trigger": TRIGGER,
            "connections": 1, "offered_rate": PACED_RATE}

    layers = {}
    if trace:
        t = phases["traced"]
        tlat, tvis = latencies(t)
        tthr, _ = throughput(t)
        alat, _ = latencies(phases["untraced_after"])
        tb = [b for b in batches if b["phase"] == "traced"]
        nonempty = [b for b in tb if b["rows"] > 0]
        seqs = set(t["due"])
        files = dict(spool[s] for s in seqs if s in spool)
        start_of = {b["id"]: b["start_us"] * 1000 for b in tb}
        pickup = [(start_of[batch_of[f]] - ct) / 1e6 for f, ct in files.items()
                  if batch_of.get(f) in start_of]
        sink_files = [f for f, ss in out_files.items() if ss & seqs]
        sink_bytes = sum(os.path.getsize(f.replace("file://", "")) for f in sink_files
                         if os.path.exists(f.replace("file://", "")))
        spans = _read_spans(work)
        phase_span = [s for s in spans if s["name"] == "phase.traced"][0]
        stages = [s for s in spans if s["name"] == "stage"
                  and phase_span["start_us"] <= s["start_us"] <= phase_span["end_us"]]
        n = max(1, t["sent"])
        layers.update({
            "gen.sent_msgs": t["sent"],
            "gen.late_p99_ms": pct(t["late"], 0.99) / 1e6,
            "gen.send_msgs_per_s": t["sent"] / max(t["send_ns"], 1) * 1e9,
            "tcp.accepted_msgs": t["accepted"] - u["accepted"],
            "spool.visible_lag_p50_ms": pct(tvis, 0.5),
            "spool.visible_lag_p99_ms": pct(tvis, 0.99),
            "spool.files": len(files),
            "spool.msgs_per_file": len(seqs) / max(1, len(files)),
            "spool.backlog_msgs": t["backlog"],
            "batch.count": len(tb),
            "batch.nonempty_share": len(nonempty) / max(1, len(tb)),
            "batch.rows_mean": statistics.mean(b["rows"] for b in tb) if tb else 0,
            "batch.pickup_ms_p50": pct(pickup, 0.5),
            "batch.pickup_ms_p99": pct(pickup, 0.99),
            "sink.files_written": len(sink_files),
            "sink.bytes_written": sink_bytes,
            "sink.files_per_batch": len(sink_files) / max(1, len(nonempty)),
            "task.busy_ms_per_msg": sum(s["run_ms"] for s in stages) / n,
            "task.cpu_ms_per_msg": sum(s["cpu_ms"] for s in stages) / n,
        })
        for k in ("latestOffset", "queryPlanning", "addBatch", "walCommit",
                  "commitOffsets", "triggerExecution"):
            v = [b["dur"].get(k, 0) for b in nonempty]
            layers["batch.%s_ms_p50" % k] = pct(v, 0.5)
            layers["batch.%s_ms_p99" % k] = pct(v, 0.99)
        layers.update(_exec_layers(stages, phase_span))
        untraced_p50 = (metrics["latency_p50_ms"] + pct(alat, 0.5)) / 2
        layers["trace.overhead_share"] = (pct(tlat, 0.5) - untraced_p50) / untraced_p50
        layers["config.parse_ms"] = statistics.median(r[2] for r in setup_rows)
        layers["config.compile_ms"] = statistics.median(r[3] for r in setup_rows)
        info["traced_latency_p50_ms"] = pct(tlat, 0.5)
        info["untraced_after_latency_p50_ms"] = pct(alat, 0.5)
        info["traced_throughput_per_s"] = tthr
    return metrics, samples, layers, len(expected), failed, info


def _read_spans(work):
    with open(os.path.join(work, "spans.jsonl")) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def _exec_layers(stages, phase_span):
    wall_ms = (phase_span["end_us"] - phase_span["start_us"]) / 1000.0
    multi = [s["skew"] for s in stages if s["tasks"] >= 2]
    return {
        "exec.busy_share": sum(s["run_ms"] for s in stages) / max(1e-9, wall_ms * cpus()),
        "task.skew_max_over_median": statistics.median(multi) if multi else 1.0,
        "shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "spill.bytes": sum(s["spill_bytes"] for s in stages),
        "task.gc_ms": sum(s["gc_ms"] for s in stages),
        "scheduler.delay_ms": sum(s["sched_delay_ms"] for s in stages),
    }


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

def _check_corpus(work, docs, truth):
    """Per query: None if its output agrees with the generator's ground
    truth, else the reason."""
    text = {d["doc_id"]: d["text"] for d in docs}
    n = len(docs)

    def rows(q):
        path = os.path.join(work, "out-%s.tsv" % q)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return [l.rstrip("\n").split("\t") for l in fh if l.strip()]

    planted = [(a, b) for a, b, _ in truth["near_pairs"]]
    for c in truth["exact_clusters"]:
        planted += [(a, b) for i, a in enumerate(c) for b in c[i + 1:]]
    res = {}

    r = rows("dedup_minhash_lsh")
    if r is None:
        res["dedup_minhash_lsh"] = "no output"
    else:
        got = {}
        for a, b, j in r:
            got[(int(a), int(b))] = float(j)
        missing = [p for p in planted if (min(p), max(p)) not in got]
        wrong = [(a, b, j) for (a, b), j in got.items()
                 if abs(gen.jaccard(text[a], text[b]) - j) > 1e-9 or j < 0.7]
        res["dedup_minhash_lsh"] = (None if not missing and not wrong else
                                    "%d planted pairs missed, %d pairs below threshold or "
                                    "with a wrong Jaccard" % (len(missing), len(wrong)))

    r = rows("dedup_minhash_incremental")
    if r is None:
        res["dedup_minhash_incremental"] = "no output"
    else:
        admitted = {int(x[0]) for x in r}
        wave = [d for d in text if d % 10 == 0]
        partners = {}
        for a, b in planted:
            partners.setdefault(a, set()).add(b)
            partners.setdefault(b, set()).add(a)

        def earlier(w, c):  # c is in the corpus or an earlier wave doc
            return c % 10 != 0 or c < w
        must_reject = {w for w in wave if any(earlier(w, c) for c in partners.get(w, ()))}
        bad_admit = must_reject & admitted
        bad_reject = []
        for w in wave:
            if w in admitted:
                continue
            cands = [c for c in partners.get(w, ()) if earlier(w, c)]
            if not any(gen.jaccard(text[w], text[c]) >= 0.7 for c in cands):
                # no planted partner: look for any verified partner
                if not any(earlier(w, c) and gen.jaccard(text[w], text[c]) >= 0.7
                           for c in text if c != w):
                    bad_reject.append(w)
        extra = admitted - set(wave)
        res["dedup_minhash_incremental"] = (
            None if not bad_admit and not bad_reject and not extra else
            "%d planted duplicates admitted, %d rejected without a >= 0.7 partner, "
            "%d non-wave ids" % (len(bad_admit), len(bad_reject), len(extra)))

    r = rows("dedup_cc")
    if r is None:
        res["dedup_cc"] = "no output"
    else:
        comp = {int(a): int(c) for a, c in r}
        members = {}
        for a, c in comp.items():
            members.setdefault(c, []).append(a)
        split = [c for c in truth["exact_clusters"] if len({comp.get(x) for x in c}) != 1
                 or None in {comp.get(x) for x in c}]
        not_min = [c for c, m in members.items() if min(m) != c]
        res["dedup_cc"] = (None if not split and not not_min and len(comp) == len(r) else
                           "%d exact-duplicate clusters split, %d components not named by "
                           "their smallest id" % (len(split), len(not_min)))

    r = rows("text_salient_terms")
    if r is None:
        res["text_salient_terms"] = "no output"
    else:
        want = gen.salient_terms(docs)
        got = {}
        for doc_id, term, tf, df, _score, rank in r:
            got.setdefault(int(doc_id), []).append((term, int(tf), int(df), int(rank)))
        bad = [d for d in want if sorted(got.get(d, []), key=lambda x: x[3]) != want[d]]
        res["text_salient_terms"] = None if not bad and len(got) == len(want) else \
            "%d documents with wrong top terms" % (len(bad) + abs(len(got) - len(want)))

    r = rows("text_classifier_score")
    if r is None:
        res["text_classifier_score"] = "no output"
    else:
        got = {int(a): (int(f), int(s)) for a, f, s in r}
        bad = [d for d, t in text.items() if got.get(d) != gen.classifier_score(t)]
        res["text_classifier_score"] = None if not bad and len(got) == n else \
            "%d documents with a wrong score" % len(bad)
    return res


def run_corpus(cp, work, seed, seconds, trace):
    docs, truth = gen.documents(seed, CORPUS_DOCS)
    json_path = os.path.abspath(os.path.join(work, "documents.jsonl"))
    with open(json_path, "w") as fh:
        for d in docs:
            fh.write(json.dumps(d) + "\n")
    params = {"work": os.path.abspath(work), "cpus": cpus(), "setups": SETUPS,
              "docs_json": json_path, "warm_docs": WARM_DOCS, "queries": ",".join(QUERIES),
              "min_passes": MIN_PASSES, "seconds": seconds, "trace": int(trace)}
    engine = Engine(cp, "corpus", work, params)
    try:
        engine.expect("READY", 150)
        done = dict(kv.split("=") for kv in engine.expect("DONE", 150))
    finally:
        engine.close()
    passes = {}
    tables = None
    with open(os.path.join(work, "passes.tsv")) as fh:
        for line in fh:
            ph, p, q, b, pl, r, rows = line.rstrip("\n").split("\t")
            if q == "tables.load":
                tables = (float(b), int(rows))
                continue
            passes.setdefault(ph, {}).setdefault(int(p), {})[q] = \
                (float(b), float(pl), float(r), int(rows))
    checks = _check_corpus(work, docs, truth)
    ok = {q for q, why in checks.items() if why is None}
    setup_rows = [list(map(float, l.split("\t")))
                  for l in open(os.path.join(work, "setup.tsv")).read().split("\n") if l]

    def pass_ms(ph):
        return [sum(b + pl + r for b, pl, r, _ in qs.values())
                for qs in passes[ph].values()
                if len(qs) == len(QUERIES) and all(v[3] >= 0 for v in qs.values())]

    walls = pass_ms("untraced")
    if not walls:
        raise BenchError("no pass completed every query\n" + open(engine.log_path).read()[-3000:])
    attempted = sum(len(qs) for qs in passes["untraced"].values())
    failed = sum(1 for qs in passes["untraced"].values() for q, v in qs.items()
                 if q not in ok or v[3] < 0) + \
        sum(len(QUERIES) - len(qs) for qs in passes["untraced"].values())
    metrics = {
        "setup_s": statistics.median(r[1] for r in setup_rows),
        "latency_p50_ms": statistics.median(walls),
        "latency_p99_ms": pct(walls, 0.99),
        "throughput_per_s": len(docs) / (statistics.median(walls) / 1000.0),
        "peak_rss_mb": int(done["rss_kb"]) / 1024.0,
    }
    samples = {"latency_p50_ms": len(walls), "latency_p99_ms": len(walls),
               "throughput_per_s": len(walls), "setup_s": len(setup_rows)}
    info = {"input_shape": truth["shape"],
            "checks": {q: why or "ok" for q, why in checks.items()}}
    layers = {}
    if trace:
        spans = _read_spans(work)
        by_id = {s["id"]: s for s in spans}
        jobs = [s for s in spans if s["name"] == "job"]
        job_of_group = {}
        for j in jobs:
            job_of_group.setdefault(j["job_group"], []).append(j)
        stage_of_job = {}
        for s in spans:
            if s["name"] == "stage":
                stage_of_job.setdefault(s["job_span"], []).append(s)
        phase_span = [s for s in spans if s["name"] == "phase.traced"][0]
        per_q = {q: {"build_ms": [], "plan_ms": [], "run_ms": [], "build_jobs": [],
                     "run_jobs": [], "stages": [], "shuffle_bytes": [], "rows_out": [],
                     "exchanges": []} for q in QUERIES}
        for s in spans:
            if not s["name"].startswith("q.") or s["parent"] not in by_id:
                continue
            par = by_id[s["parent"]]
            if not (phase_span["start_us"] <= par["start_us"] <= phase_span["end_us"]):
                continue
            q = s["name"][2:]
            d = per_q[q]
            d["rows_out"].append(s["rows_out"])
            d["exchanges"].append(s.get("ShuffleExchangeExec", 0) + s.get("ReusedExchangeExec", 0)
                                  + s.get("BroadcastExchangeExec", 0))
            steps = {c["name"]: c for c in spans if c["parent"] == s["id"]}
            nst = shuf = 0
            for step, key in (("query.build", "build"), ("query.plan", "plan"),
                              ("query.run", "run")):
                c = steps.get(step)
                if c is None:
                    continue
                d[key + "_ms"].append((c["end_us"] - c["start_us"]) / 1000.0)
                js = job_of_group.get(str(c["id"]), [])
                if key in ("build", "run"):
                    d[key + "_jobs"].append(len(js))
                for j in js:
                    for st in stage_of_job.get(j["id"], []):
                        nst += 1
                        shuf += st["shuffle_write_bytes"]
            d["stages"].append(nst)
            d["shuffle_bytes"].append(shuf)
        for q, d in per_q.items():
            for k, v in d.items():
                layers["q.%s.%s" % (q, k)] = statistics.median(v) if v else 0
        stages = [s for s in spans if s["name"] == "stage"
                  and phase_span["start_us"] <= s["start_us"] <= phase_span["end_us"]]
        layers.update(_exec_layers(stages, phase_span))
        if tables:
            layers["tables.load_ms"], layers["scan.partitions"] = tables
        # the traced phase runs between two untraced ones; it is compared
        # with their mean, so JVM warm-up does not count as tracing cost
        twalls = pass_ms("traced")
        untraced = (metrics["latency_p50_ms"] + statistics.median(pass_ms("untraced_after"))) / 2
        layers["trace.overhead_share"] = (statistics.median(twalls) - untraced) / untraced
        info["traced_latency_p50_ms"] = statistics.median(twalls)
        info["untraced_after_latency_p50_ms"] = statistics.median(pass_ms("untraced_after"))
    return metrics, samples, layers, attempted, failed, info


# ---------------------------------------------------------------------------
# span analysis
# ---------------------------------------------------------------------------

def layer_table(spans):
    """Per span name: count, total and self time (ms). Self time is a
    span's duration minus the part of it its children cover. Job and
    stage spans are attached to the span that caused them (job group,
    streaming batch) before the sums are taken."""
    by_id = {s["id"]: s for s in spans}
    batch_span = {str(s["batch_id"]): s["id"] for s in spans if s["name"] == "streaming.batch"}
    for s in spans:
        if s["name"] == "job":
            g = s.get("job_group", "")
            if g.isdigit() and int(g) in by_id:
                s["parent"] = int(g)
            elif s.get("batch_id", "") in batch_span:
                s["parent"] = batch_span[s["batch_id"]]
        elif s["name"] == "stage" and s.get("job_span") in by_id:
            s["parent"] = s["job_span"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    rows = {}
    for s in spans:
        dur = max(0, s["end_us"] - s["start_us"])
        iv = sorted((max(c["start_us"], s["start_us"]), min(c["end_us"], s["end_us"]))
                    for c in children.get(s["id"], []))
        covered, cur_a, cur_b = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        r = rows.setdefault((s["layer"], s["name"]), [0, 0.0, 0.0])
        r[0] += 1
        r[1] += dur / 1000.0
        r[2] += (dur - covered) / 1000.0
    return sorted(((l, n, c, t, st) for (l, n), (c, t, st) in rows.items()),
                  key=lambda x: -x[4])


# ---------------------------------------------------------------------------
# command line
# ---------------------------------------------------------------------------

# Workload-specific names the same figures go by in the repository's
# records (ROADMAP, VERDICT); printed next to the generic metric names.
ALIASES = {
    "ingest_paced": {"latency_p50_ms": "ingest_p50_ms", "latency_p99_ms": "ingest_p99_ms",
                     "throughput_per_s": "ingest_msgs_per_s"},
    "corpus_dedup": {"throughput_per_s": "corpus_docs_per_s"},
}


def run_workload(cp, workload, seed, seconds, trace):
    work = os.path.join(BUILD, "work", "%s-s%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if workload == "corpus_dedup":
            r = run_corpus(cp, work, seed, seconds, trace)
        else:
            r = run_ingest(cp, work, seed, seconds, trace)
        metrics, samples, layers, attempted, failed, info = r
        last = os.path.join(BUILD, "last", workload)
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        table = None
        if trace:
            shutil.copy(os.path.join(work, "spans.jsonl"), last)
            table = layer_table(_read_spans(work))
            with open(os.path.join(last, "layers.tsv"), "w") as fh:
                fh.write("layer\tspan\tcount\ttotal_ms\tself_ms\n")
                for row in table:
                    fh.write("%s\t%s\t%d\t%.3f\t%.3f\n" % row)
        with open(os.path.join(last, "info.json"), "w") as fh:
            json.dump(info, fh, indent=1, default=str)
        return metrics, samples, layers, attempted, failed, info, table
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(workload, seed, seconds, trace, res):
    end_to_end, per_layer = _metric_names()
    metrics, samples, layers, attempted, failed, info, table = res
    print("workload %s seed %d seconds %d cpus %d trace %d" % (workload, seed, seconds,
                                                               cpus(), trace))
    print("input %s" % json.dumps(info["input_shape"], sort_keys=True))
    print("checks %s" % json.dumps(info["checks"], sort_keys=True))
    if "trigger" in info:
        print("trigger %s connections %s offered_rate %s" % (
            info["trigger"], info["connections"], info["offered_rate"]))
    for name, unit in end_to_end:
        alias = ALIASES.get(workload, {}).get(name)
        n = samples.get(name)
        print("metric %-18s %14.4f %-5s%s%s" % (
            name, metrics[name], unit, "  n=%d" % n if n else "",
            "  (= %s)" % alias if alias else ""))
    print("metric %-18s %14.6f ratio  n=%d" % ("failed_ratio", failed / max(1, attempted),
                                              attempted))
    print("metric %-18s %14.4f MB" % ("peak_rss_mb", metrics["peak_rss_mb"]))
    if trace:
        print("per-layer spans (ms): layer / span / count / total / self")
        for row in table[:25]:
            print("  %-12s %-28s %6d %12.1f %12.1f" % row)
        for name, unit in per_layer:
            print("layer %-40s %16.4f %s" % (name, dict(metrics, **layers).get(name, 0), unit))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp = build()
        todo = ([w["name"] for w in _benchmark()["workloads"]] if a.workload == "all"
                else [a.workload])
        results = {}
        for w in todo:
            res = run_workload(cp, w, a.seed, a.seconds, a.trace)
            report(w, a.seed, a.seconds, a.trace, res)
            results[w] = res
    except BenchError as e:
        print("benchmark error: %s" % e, file=sys.stderr)
        sys.exit(2)
    correct = all(r[4] == 0 for r in results.values())
    if a.workload == "all":
        out = {w: {"correct": r[4] == 0, "attempted": r[3], "failed": r[4],
                   "metrics": {ALIASES.get(w, {}).get(k, k): v for k, v in r[0].items()}}
               for w, r in results.items()}
        print(json.dumps(out))
    else:
        metrics, samples, layers, attempted, failed, info, _ = results[a.workload]
        end_to_end, per_layer = _metric_names()
        chosen = per_layer if a.trace else end_to_end
        vals = dict(metrics, **layers) if a.trace else metrics
        bad = [n for n, _ in chosen if not math.isfinite(vals.get(n, 0))]
        if bad:
            print("benchmark error: nothing measured for %s" % ", ".join(bad), file=sys.stderr)
            sys.exit(2)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {n: {"value": vals.get(n, 0), "unit": u}
                                      for n, u in chosen}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
