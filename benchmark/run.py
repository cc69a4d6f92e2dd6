"""Benchmark entry point.

    python3 benchmark/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed, runs one closed-loop client
in a fresh, pinned Spark process (``worker.py``), checks every output
against an independent oracle, and prints one JSON line last: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import eventlog
import gen
import oracles
import proctree

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PACKAGE = os.path.join(ROOT, "mapreduce_itwiki_spark")

#: a run, its set-up and its checks must end well inside 180 s
RUN_LIMIT_S = 170
DRIVER_HEAP_GB = 2

WIKI_BYTES = 16_000_000
MINHASH_DOCS = 2000
ANN_BASE = 10000
ANN_BATCH = 500
ANN_ROUNDS = 3  #: append batches per schedule cycle
ANN_QUERIES_PER_ROUND = 3
ANN_K = 10
ANN_NPROBE = 2  #: the package's default probe width, replayed by the oracle

#: warm-up stops at the knee, or after this many operations (rounds for
#: ann_serve_ingest), so that a run with its cold set-up stays near 40 s:
#: comparing two commits takes tens of runs per workload. A cap in
#: operations, not seconds, keeps timing at the same point of the warm-up
#: curve on a slow host.
WARMUP_MAX_OPS = {"wiki_linkcount": 5, "neardup_minhash": 4, "ann_serve_ingest": 3}


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# inputs and expected outputs


def _cache_key(*parts) -> str:
    h = hashlib.sha256()
    for name in ("gen.py", "oracles.py"):
        with open(os.path.join(BENCH, name), "rb") as f:
            h.update(f.read())
    h.update(repr(parts).encode())
    return h.hexdigest()[:24]


def _cached(key: str, compute):
    """Expected outputs depend only on the seed and the generator, so they
    are kept between runs in the checkout's cache directory."""
    path = os.path.join(ROOT, ".bench_cache", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(value, f)
    os.replace(path + ".tmp", path)
    return value


def prepare_wiki(seed: int, data: str) -> tuple[dict, dict]:
    dump = os.path.join(data, "dump.xml")
    gen.wiki_dump(dump, seed, WIKI_BYTES)
    counts = _cached(
        _cache_key("wiki", seed, WIKI_BYTES), lambda: sorted(oracles.wiki_counts(dump).items())
    )
    return {"dump": dump}, {"rows": [tuple(r) for r in counts], "mb": os.path.getsize(dump) / 2**20}


def prepare_minhash(seed: int, data: str) -> tuple[dict, dict]:
    from mapreduce_itwiki_spark.plans import catalog

    docs = os.path.join(data, "documents.parquet")
    planted = gen.documents(docs, seed, MINHASH_DOCS)
    sql = catalog.oracles()["dedup_minhash_lsh"]
    expected = _cached(
        _cache_key("minhash", seed, MINHASH_DOCS, sql),
        lambda: {
            "pairs": sorted(oracles.minhash_pairs(docs, sql)),
            "planted": oracles.planted_above(docs, planted),
        },
    )
    return {"docs": docs}, expected


def prepare_ann(seed: int, data: str) -> tuple[dict, dict]:
    base = os.path.join(data, "base.parquet")
    gen.write_parquet(gen.embeddings(seed, ANN_BASE), base)
    batches = []
    for b in range(ANN_ROUNDS):
        path = os.path.join(data, f"batch{b}.parquet")
        gen.write_parquet(gen.embeddings(seed, ANN_BATCH, first_id=ANN_BASE + b * ANN_BATCH), path)
        batches.append(path)
    rng = random.Random(seed)
    ids = rng.sample(range(ANN_BASE), ANN_ROUNDS * ANN_QUERIES_PER_ROUND + 16)
    n_q = ANN_ROUNDS * ANN_QUERIES_PER_ROUND
    inputs = {"base": base, "batches": batches, "qids": ids[:n_q], "warm_qids": ids[n_q:]}
    return inputs, {}


PREPARE = {
    "wiki_linkcount": prepare_wiki,
    "neardup_minhash": prepare_minhash,
    "ann_serve_ingest": prepare_ann,
}


# ---------------------------------------------------------------------------
# checks: every timed output against its oracle; returns (attempted, failed)


def check_wiki(res: dict, expected: dict, layer: dict) -> tuple[int, int]:
    want = expected["rows"]
    failed = 0
    jobs = [op for op in res["ops"] if op["kind"] == "job"]
    for op in jobs:
        try:
            rows = oracles.read_csv_counts(op["out"])
        except ValueError:  # a part without the header, or a bad count
            rows = None
        failed += rows != want
    out = jobs[-1]["out"]
    parts = [os.path.join(out, f) for f in os.listdir(out) if f.startswith("part-")]
    layer["sources.sinks.files"] = len(parts)
    layer["sources.sinks.out_bytes"] = sum(os.path.getsize(p) for p in parts)
    return len(jobs), failed


def check_minhash(res: dict, expected: dict, layer: dict) -> tuple[int, int]:
    want = {(a, b): j for a, b, j in expected["pairs"]}
    failed = 0
    jobs = [op for op in res["ops"] if op["kind"] == "job"]
    for op in jobs:
        got = {(a, b): j for a, b, j in op["pairs"]}
        failed += got.keys() != want.keys() or any(abs(got[p] - want[p]) > 1e-6 for p in want)
    # recall on the planted pairs whose exact Jaccard clears the threshold
    planted = {(a, b) for a, b in expected["planted"]}
    found = {(a, b) for a, b, _ in jobs[-1]["pairs"]}
    layer["operators.dedup.recall"] = len(found & planted) / len(planted)
    layer["operators.dedup.near_dup_pairs"] = len(want)
    return len(jobs), failed


def check_ann(res: dict, inputs: dict, work: str, layer: dict) -> tuple[int, int]:
    import numpy as np
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    index = os.path.join(work, "out", "index")
    cents = pq.read_table(os.path.join(index, "_centroids")).to_pydict()
    order = np.argsort(cents["cid"])
    cids = np.array(cents["cid"])[order]
    centroids = np.array(cents["cv"], dtype=np.float64)[order]

    def load(path):
        t = pq.read_table(path)
        return np.array(t["vec_id"]), np.array(t["embedding"].to_pylist(), dtype=np.float32)

    ids, vecs = load(inputs["base"])
    levels = []
    oracle = oracles.VectorOracle(ids, vecs, cids, centroids)
    for path in inputs["batches"]:
        oracle = oracle.extend(*load(path))
        levels.append(oracle)
    failed, recalls, cands = 0, [], []
    queries = [op for op in res["ops"] if op["kind"] == "query"]
    for op in queries:
        ok, recall, n_cand = levels[op["batch"]].check_topk(
            inputs["qids"][op["pos"]], [tuple(r) for r in op["rows"]], ANN_K, ANN_NPROBE
        )
        failed += not ok
        recalls.append(recall)
        cands.append(n_cand)
    # the index left by the last cycle must hold every row once, in its cell
    appends = [op for op in res["ops"] if op["kind"] == "append"]
    lists = ds.dataset(os.path.join(index, "lists"), partitioning="hive").to_table(
        columns=["vec_id", "cid"]
    )
    final = levels[-1]
    got = dict(zip(lists["vec_id"].to_pylist(), lists["cid"].to_pylist()))
    want = dict(zip(final.ids.tolist(), final.cells.tolist()))
    if len(got) != lists.num_rows or got != want:
        failed += ANN_ROUNDS
    layer["operators.similarity.recall_at_10"] = statistics.fmean(recalls)
    layer["operators.similarity.candidates_scanned"] = median(cands)
    return len(queries) + len(appends), failed


# ---------------------------------------------------------------------------
# metrics


def e2e_metrics(workload: str, res: dict, peak_rss: float) -> dict:
    ops = res["ops"]

    def walls(kind, key="wall"):
        return [op[key] for op in ops if op["kind"] == kind]

    if workload == "ann_serve_ingest":
        job, cpu = walls("round"), walls("round", "cpu")
        query, append = walls("query"), walls("append")
    else:
        # a batch job is the workload's only operation: it is the request a
        # user waits for and the one write of its output
        job, cpu = walls("job"), walls("job", "cpu")
        query = append = job
    return {
        "setup_s": (res["setup"]["total_s"], "s"),
        "job_s": (median(job), "s"),
        "job_cpu_s": (median(cpu), "s"),
        "query_p50_s": (median(query), "s"),
        "append_s": (median(append), "s"),
        "peak_rss_mb": (peak_rss, "MiB"),
    }


PER_LAYER = {
    "session.start_s": "s",
    "warmup.ops": "count",
    "warmup.first_s": "s",
    "warmup.last_s": "s",
    "sources.xml_pages.read_s": "s",
    "sources.xml_pages.pages": "count",
    "sources.xml_pages.mb_per_s": "MiB/s",
    "operators.linkgraph.extract_s": "s",
    "operators.linkgraph.raw_links": "count",
    "operators.linkgraph.distinct_s": "s",
    "operators.linkgraph.distinct_pairs": "count",
    "operators.linkgraph.distinct_ratio": "ratio",
    "operators.linkgraph.count_sort_s": "s",
    "operators.linkgraph.targets": "count",
    "sources.sinks.write_s": "s",
    "sources.sinks.out_bytes": "bytes",
    "sources.sinks.files": "count",
    "sources.parquet.scan_s": "s",
    "sources.parquet.rows": "count",
    "operators.dedup.shingle_s": "s",
    "operators.dedup.signatures_s": "s",
    "operators.dedup.candidates_s": "s",
    "operators.dedup.verify_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.near_dup_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.recall": "ratio",
    "operators.similarity.build_s": "s",
    "operators.similarity.probe_s": "s",
    "operators.similarity.scan_rank_s": "s",
    "operators.similarity.candidates_scanned": "count",
    "operators.similarity.index_files": "count",
    "operators.similarity.append_s": "s",
    "operators.similarity.recall_at_10": "ratio",
    **{f"spark.{f}": u for f, u in zip(eventlog.FIELDS, (
        "count", "count", "s", "s", "MiB", "MiB", "MiB", "count", "s"))},
    "trace.overhead_pct": "%",
}


def layer_metrics(workload: str, res: dict, expected: dict, event_dir: str, layer: dict) -> dict:
    ops = res["ops"]
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(layer)
    m["session.start_s"] = res["setup"]["session_s"]
    m["warmup.ops"] = len(res["warmup_s"])
    m["warmup.first_s"] = res["warmup_s"][0]
    m["warmup.last_s"] = res["warmup_s"][-1]
    counts = res.get("counts", {})
    if workload == "ann_serve_ingest":
        plain = traced = [op for op in ops if op["kind"] == "query"]
        traced_total = [op["probe"] + op["scan"] for op in traced]
    else:
        plain = [op for op in ops if op["kind"] == "job" and not op["traced"]]
        traced = [op for op in ops if op["kind"] == "job" and op["traced"]]
        traced_total = [op["wall"] for op in traced]

    def self_times(names):
        """Median self time per step: each step's cumulative drain time
        minus the previous step's; the last step is the whole op."""
        out = {}
        for i, name in enumerate(names):
            vals = []
            for op in traced:
                cum = [op["steps"][n] for n in names[:-1]] + [op["wall"]]
                vals.append(cum[i] - (cum[i - 1] if i else 0.0))
            out[name] = median(vals)
        return out

    if workload == "wiki_linkcount":
        st = self_times(["read", "extract", "distinct", "count_sort", "write"])
        m["sources.xml_pages.read_s"] = st["read"]
        m["sources.xml_pages.pages"] = counts["pages"]
        m["sources.xml_pages.mb_per_s"] = expected["mb"] / st["read"]
        m["operators.linkgraph.extract_s"] = st["extract"]
        m["operators.linkgraph.raw_links"] = counts["raw_links"]
        m["operators.linkgraph.distinct_s"] = st["distinct"]
        m["operators.linkgraph.distinct_pairs"] = counts["distinct_pairs"]
        m["operators.linkgraph.distinct_ratio"] = counts["distinct_pairs"] / counts["raw_links"]
        m["operators.linkgraph.count_sort_s"] = st["count_sort"]
        m["operators.linkgraph.targets"] = len(expected["rows"])
        m["sources.sinks.write_s"] = st["write"]
    elif workload == "neardup_minhash":
        st = self_times(["scan", "shingle", "signatures", "candidates", "verify"])
        m["sources.parquet.scan_s"] = st["scan"]
        m["sources.parquet.rows"] = counts["rows"]
        for name in ("shingle", "signatures", "candidates", "verify"):
            m[f"operators.dedup.{name}_s"] = st[name]
        m["operators.dedup.candidate_pairs"] = counts["candidate_pairs"]
        m["operators.dedup.verify_yield"] = (
            m["operators.dedup.near_dup_pairs"] / counts["candidate_pairs"]
        )
    else:
        m["operators.similarity.build_s"] = res["setup"]["total_s"] - res["setup"]["session_s"]
        m["operators.similarity.probe_s"] = median([op["probe"] for op in traced])
        m["operators.similarity.scan_rank_s"] = median([op["scan"] for op in traced])
        m["operators.similarity.index_files"] = median([op["files"] for op in traced])
        m["operators.similarity.append_s"] = median(
            [op["wall"] for op in ops if op["kind"] == "append"]
        )
    windows = eventlog.window_counts(event_dir, [(op["t0"], op["t1"]) for op in plain])
    for f in eventlog.FIELDS:
        m[f"spark.{f}"] = median([w[f] for w in windows])
    # the layer self times sum to a traced op's total; the gap to the plain
    # op run beside it is what tracing adds
    base = median([op["wall"] for op in plain])
    m["trace.overhead_pct"] = 100.0 * (median(traced_total) - base) / base
    return {name: (value, PER_LAYER[name]) for name, value in m.items()}


# ---------------------------------------------------------------------------
# the worker process


def pinned_env(work: str, trace: bool) -> dict:
    """The runtime, pinned from outside the package through its public
    knobs: all visible cores, a fixed driver heap committed and touched up
    front, and per-run scratch directories. A traced run also switches on Spark's
    event log, as JVM system properties."""
    env = dict(os.environ)
    heap = f"{DRIVER_HEAP_GB}g"
    # the heap is committed and touched at JVM start: first-touch page
    # faults on fresh heap regions otherwise stretch the warm-up curve
    jvm = (
        f"-Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work}/tmp"
        " -Dspark.ui.showConsoleProgress=false"
    )
    if trace:
        jvm += (
            " -Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false"
            f" -Dspark.eventLog.dir=file://{work}/events"
        )
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=heap,
        SPARK_GRAFT_DRIVER_JAVA_OPTIONS=jvm,
        SPARK_LOCAL_DIRS=f"{work}/local",
        TMPDIR=f"{work}/tmp",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
    )
    return env


def run_worker(cfg: dict, work: str, deadline: float) -> tuple[int, float]:
    """Run worker.py to completion; return (exit code, peak tree RSS in MiB).
    Every process of the worker's group has ended when this returns."""
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log = open(os.path.join(work, "worker.log"), "wb")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(BENCH, "worker.py"), cfg_path],
        cwd=work,
        env=pinned_env(work, bool(cfg["trace"])),
        stdout=log,
        stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    peak = 0.0
    try:
        while proc.poll() is None and time.time() < deadline:
            peak = max(peak, proctree.rss_mb(proctree.group(proc.pid)))
            time.sleep(0.1)
    finally:
        # the JVM and Python workers leave shortly after the worker; a
        # worker past the deadline or an interrupted run takes them down
        t_end = time.time() + (15 if proc.poll() is not None else 0)
        while proctree.group(proc.pid) and time.time() < t_end:
            time.sleep(0.2)
        while proctree.group(proc.pid):
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        proc.wait()
        log.close()
    return proc.returncode, peak


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PREPARE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S
    # a terminated run still stops its worker (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(PACKAGE):
        print(f"benchmark: package not found at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("data", "out", "local", "tmp", "events"):
        os.makedirs(os.path.join(work, sub))
    try:
        inputs, expected = PREPARE[args.workload](args.seed, os.path.join(work, "data"))
        cfg = {
            "workload": args.workload,
            "inputs": inputs,
            "seconds": args.seconds,
            "trace": args.trace,
            "k": ANN_K,
            "min_ops": 3 if args.trace else 4,
            "warmup_max_ops": WARMUP_MAX_OPS[args.workload],
            "out_dir": os.path.join(work, "out"),
            "event_dir": os.path.join(work, "events"),
            "result": os.path.join(work, "result.json"),
        }
        rc, peak = run_worker(cfg, work, deadline)
        if rc != 0:
            with open(os.path.join(work, "worker.log"), "rb") as f:
                tail = f.read()[-4000:].decode("utf-8", "replace")
            print(f"benchmark: worker exited with {rc}\n{tail}", file=sys.stderr)
            return 1
        with open(cfg["result"]) as f:
            res = json.load(f)
        layer: dict = {}
        if args.workload == "wiki_linkcount":
            attempted, failed = check_wiki(res, expected, layer)
        elif args.workload == "neardup_minhash":
            attempted, failed = check_minhash(res, expected, layer)
        else:
            attempted, failed = check_ann(res, inputs, work, layer)
        if args.trace:
            metrics = layer_metrics(args.workload, res, expected, cfg["event_dir"], layer)
        else:
            metrics = e2e_metrics(args.workload, res, peak)
        print(json.dumps({k: res[k] for k in ("setup", "warmup_s", "phase_s")}))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": attempted,
                    "failed": failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
