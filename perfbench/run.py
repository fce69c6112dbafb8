#!/usr/bin/env python3
"""graft benchmark: one seeded workload against the library's public API.

    python3 perfbench/run.py --workload query_service --seed 1 --seconds 8 --trace 0

Builds the harness (perfbench/build.sbt, which compiles the library from
../src), generates the workload's inputs from the seed, runs the JVM
harness for the measuring window, checks every output and prints one JSON
line: every end-to-end metric with --trace 0, every per-layer metric with
--trace 1. Exits non-zero when the library sources are missing, the build
or the run fails, or an output check fails. See README.md.
"""

import argparse
import hashlib
import itertools
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "latency_mean_ms": "ms",
    "throughput_per_s": "1/s",
    "heap_live_mb": "MB",
}

PER_LAYER = {
    "jexl.parse_us": "us",
    "query.logic_ms": "ms",
    "query.plan_ms": "ms",
    "query.first_page_exec_ms": "ms",
    "query.next_page_exec_ms": "ms",
    "query.next_page_p50_ms": "ms",
    "query.http_overhead_ms": "ms",
    "query.http_wait_ms": "ms",
    "query.rows_per_query": "rows",
    "query.pages_per_query": "pages",
    "query.cached_mb": "MB",
    "ingest.to_long_ms": "ms",
    "ingest.global_index_ms": "ms",
    "ingest.long_rows": "rows",
    "operators.quality_ms": "ms",
    "operators.exact_ms": "ms",
    "operators.minhash_pairs_ms": "ms",
    "operators.clusters_ms": "ms",
    "operators.keep_best_ms": "ms",
    "operators.split_ms": "ms",
    "operators.pq_topk_ms": "ms",
    "operators.pairs_out": "pairs",
    "operators.dup_recall": "ratio",
    "operators.pq_recall_at_10": "ratio",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.trigger_execution_ms": "ms",
    "streaming.trigger_growth_ms": "ms/trigger",
    "streaming.rows_per_trigger": "rows",
    "core.store_bytes": "bytes",
    "core.store_files": "files",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_ms": "ms",
    "spark.slot_busy_frac": "ratio",
    "jvm.gc_ms": "ms",
    "jvm.gc_count": "count",
    "trace.overhead_frac": "ratio",
    "failed_frac": "ratio",
}

# correctness floors for the curation pass
DUP_RECALL_FLOOR = 0.95
PQ_RECALL_FLOOR = 0.7

CORES = 4
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return files


def build():
    """Compile the harness and the library once per source state; returns
    the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    digest = h.hexdigest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building (sbt writeClasspath)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(OUT, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


# ------------------------------------------------------------------ checks

def check_queries(manifest, inputs, ops):
    """Each query's served row count and order keys must match its SQL run
    through DuckDB over the same files; pages may not overlap or skip."""
    import duckdb
    con = duckdb.connect()
    queries = {q["slot"]: q for q in manifest["queries"]}
    page = manifest["page_size"]
    truth = {}
    for op in ops:
        if not op["ok"]:
            continue
        q = queries[op["slot"]]
        if q["slot"] not in truth:
            src = f"read_parquet('{os.path.join(inputs, q['table'] + '.parquet')}')"
            key = " || ':' || ".join(f"CAST({c} AS VARCHAR)" for c in q["order"])
            total = con.execute(f"SELECT count(*) FROM {src} WHERE {q['sql']}").fetchone()[0]
            limit = page * (1 + q["next_pages"])
            keys = [r[0] for r in con.execute(
                f"SELECT {key} FROM {src} WHERE {q['sql']} "
                f"ORDER BY {', '.join(q['order'])} LIMIT {limit}").fetchall()]
            truth[q["slot"]] = (total, keys)
        total, keys = truth[q["slot"]]
        served, pages = op["keys"], op["pages"]
        want = total if op["exhausted"] else min(total, page * len(pages))
        problem = None
        if len(served) != sum(pages) or any(n != page for n in pages[:-1]):
            problem = f"page sizes {pages} do not page {len(served)} rows"
        elif len(served) != want:
            problem = f"served {len(served)} rows, expected {want} of {total}"
        elif served != keys[:len(served)]:
            problem = "served order keys differ from the SQL answer"
        if problem:
            op["ok"] = False
            op["error"] = f"slot {q['slot']}: {problem}"


def check_curation(manifest, inputs, ops):
    """Recall of the injected near-duplicates, one kept document per
    cluster (the one with the most letters, then the lowest id), a
    leak-free split and PQ recall@10 against the exact top-k, per pass."""
    import pyarrow.parquet as pq
    corpus = pq.read_table(os.path.join(inputs, "corpus.parquet"),
                           columns=["doc_id", "text"]).to_pydict()
    first = {}
    for i, t in zip(corpus["doc_id"], corpus["text"]):
        first[t] = min(i, first.get(t, i))
    surv = {i: first[t] for i, t in zip(corpus["doc_id"], corpus["text"])}
    letters = {i: len(re.sub("[^a-zA-Z]", "", t))
               for i, t in zip(corpus["doc_id"], corpus["text"])}
    injected = [tuple(p) for p in manifest["injected_pairs"]]
    for op in ops:
        if not op["ok"]:
            continue
        entered = set(op["minhash_in"])
        expected = set()
        for a, b in injected:
            sa, sb = surv[a], surv[b]
            if sa != sb and sa in entered and sb in entered:
                expected.add((min(sa, sb), max(sa, sb)))
        found = {tuple(p) for p in op["pairs"]}
        op["dup_recall"] = len(expected & found) / len(expected) if expected else 1.0
        split_of, members = {}, {}
        leaks = 0
        for doc, cluster, split in op["split"]:
            leaks += split_of.setdefault(cluster, split) != split
            members.setdefault(cluster, []).append(doc)
        # an unclustered document is its own one-member group, and kept
        best = {min(m, key=lambda d: (-letters[d], d)) for m in members.values()}
        wrong_kept = len(best ^ set(op["kept"]))
        exact, approx = {}, {}
        for p, v in op["exact_topk"]:
            exact.setdefault(p, set()).add(v)
        for p, v in op["pq"]:
            approx.setdefault(p, set()).add(v)
        op["pq_recall"] = statistics.mean(
            len(approx.get(p, set()) & vs) / len(vs) for p, vs in exact.items())
        problems = []
        if op["dup_recall"] < DUP_RECALL_FLOOR:
            problems.append(f"dup recall {op['dup_recall']:.3f} < {DUP_RECALL_FLOOR}")
        if leaks:
            problems.append(f"{leaks} docs split away from their cluster")
        if wrong_kept:
            problems.append(f"kept set differs from the best per cluster in {wrong_kept} docs")
        if op["pq_recall"] < PQ_RECALL_FLOOR:
            problems.append(f"PQ recall@10 {op['pq_recall']:.3f} < {PQ_RECALL_FLOOR}")
        if problems:
            op["ok"] = False
            op["error"] = f"pass {op['pass']}: " + "; ".join(problems)


def shingles(text, n=3):
    """Distinct word n-grams of the normalized text, as Dedup.shingles
    forms them (lower case, runs of other characters become one space)."""
    words = re.sub("[^a-z0-9]+", " ", text.lower()).split()
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard_pairs(docs, threshold=0.8):
    """Exact word-trigram Jaccard pairs (id_a < id_b) -> (inter, uni)."""
    sh = {i: shingles(t) for i, t in docs.items()}
    index = {}
    for i, s in sh.items():
        for g in s:
            index.setdefault(g, []).append(i)
    cand = {p for ids in index.values() for p in itertools.combinations(sorted(ids), 2)}
    out = {}
    for a, b in cand:
        inter = len(sh[a] & sh[b])
        uni = len(sh[a]) + len(sh[b]) - inter
        if inter >= uni * threshold:
            out[(a, b)] = (inter, uni)
    return out


def check_stream(inputs, work, res, ops):
    """Per committed batch: its emitted pairs equal the exact pairs whose
    later side arrived in it (so the union over batches is the bulk pair
    set over everything streamed), and its long-layout rows equal its
    non-null field values."""
    import duckdb
    import pyarrow.parquet as pq
    batch_of, texts = {}, {}
    for b in range(res["batches_fed"]):
        t = pq.read_table(os.path.join(inputs, "docs_%03d.parquet" % b)).to_pydict()
        for i, x in zip(t["doc_id"], t["text"]):
            batch_of[i], texts[i] = b, x
    expected = {}
    for (a, b), v in jaccard_pairs(texts).items():
        expected.setdefault(max(batch_of[a], batch_of[b]), set()).add((a, b) + v)
    con = duckdb.connect()
    emitted = {}
    for row in con.execute(
            "SELECT batch_id, id_a, id_b, inter, uni FROM read_parquet("
            f"'{os.path.join(work, 'pairs', '*', '*.parquet')}', hive_partitioning=true)"
            ).fetchall():
        emitted.setdefault(row[0], set()).add(tuple(row[1:]))
    long_rows = dict(con.execute(
        "SELECT batch_id, count(*) FROM read_parquet("
        f"'{os.path.join(work, 'events-long', '*', '*', '*.parquet')}', "
        "hive_partitioning=true) GROUP BY 1").fetchall())
    for op in ops:
        if not op["ok"]:
            continue
        b = op["batch"]
        ev = pq.read_table(os.path.join(inputs, "events_%03d.parquet" % b))
        values = sum(ev.num_rows - ev.column(c).null_count
                     for c in ("user_id", "event_type", "value", "props"))
        e, got = expected.get(b, set()), emitted.get(b, set())
        problems = []
        if e != got:
            problems.append(f"pairs: {len(e - got)} missing, {len(got - e)} extra")
        op["long_rows"] = long_rows.get(b, 0)
        if long_rows.get(b, 0) != values:
            problems.append(f"long rows {long_rows.get(b, 0)} != {values}")
        if problems:
            op["ok"] = False
            op["error"] = f"batch {b}: " + "; ".join(problems)


# ------------------------------------------------------------------ metrics

def end_to_end(workload, res, ops, setup_s):
    """Mean latency over the operations that passed (with two clients the
    first-page times are a wide mixture of own work and waiting, whose
    median jumps between seeds); throughput as the work of the passed
    operations per second of the window's wall time. Every run does the
    same fixed amount of work, so the window has no unfinished tail."""
    ok = [o for o in ops if o["ok"]]
    if not ok:
        raise SystemExit("no operation succeeded")
    if workload == "query_service":
        lat = [o["first_ms"] for o in ok]
        work = len(ok)
    else:
        lat = [o["ms"] for o in ok]
        work = sum(o["docs" if workload == "curation_batch" else "rows"] for o in ok)
    return {"setup_s": setup_s, "latency_mean_ms": statistics.mean(lat),
            "throughput_per_s": work / (res["window_ms"] / 1000.0),
            "heap_live_mb": res["heap_live_mb"]}


def per_layer(workload, res, ops):
    m = {k: 0.0 for k in PER_LAYER}
    m.update({k: float(v) for k, v in res["layers"].items() if k in m})
    ok = [o for o in ops if o["ok"]]
    if workload == "curation_batch" and ok:
        m["operators.pairs_out"] = statistics.mean(len(o["pairs"]) for o in ok)
        m["operators.dup_recall"] = statistics.mean(o["dup_recall"] for o in ok)
        m["operators.pq_recall_at_10"] = statistics.mean(o["pq_recall"] for o in ok)
    if workload == "stream_ingest" and ok:
        m["ingest.long_rows"] = statistics.median(o["long_rows"] for o in ok)
    m["failed_frac"] = (len(ops) - len(ok)) / max(1, len(ops))
    return m


def result_line(workload, res, ops, trace, setup_s):
    """The one-line JSON result: every per-layer metric when traced, every
    end-to-end metric otherwise; failed operations never count as times."""
    failed = [o for o in ops if not o["ok"]]
    if trace:
        metrics, units = per_layer(workload, res, ops), PER_LAYER
    else:
        metrics = end_to_end(workload, res, ops, setup_s)
        units = END_TO_END
    return json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    })


# ------------------------------------------------------------------ main

def main():
    # a stopped runner unwinds (and so stops the JVM) instead of dying
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("the graft library sources (../build.sbt, ../src/main/scala) are missing")
        return 2
    classpath = build()

    t_setup = time.time()
    work = os.path.join(OUT, "run")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    manifest = gen.generate(args.workload, args.seed, inputs)
    jvm_work = os.path.join(work, "jvm")
    os.makedirs(os.path.join(jvm_work, "tmp"))
    result = os.path.join(work, "result.json")
    mem = os.environ.get("SPARK_DRIVER_MEM", "3g")
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = (["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(jvm_work, 'tmp')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
              "--inputs", inputs, "--work", jvm_work, "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--out", result, "--cores", str(CORES)])
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also when the runner itself is stopped: the JVM never outlives it
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(result):
        with open(jvm_log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        log(f"harness failed ({rc})")
        return 1
    with open(result) as f:
        res = json.load(f)
    ops = res["ops"]
    if args.workload == "query_service":
        check_queries(manifest, inputs, ops)
    elif args.workload == "curation_batch":
        check_curation(manifest, inputs, ops)
    else:
        check_stream(inputs, jvm_work, res, ops)
    for o in [o for o in ops if not o["ok"]][:10]:
        log("failed: " + str(o.get("error")))
    line = result_line(args.workload, res, ops, args.trace,
                       res["setup_end_ms"] / 1000.0 - t_setup)
    print(line)
    return 0 if json.loads(line)["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
