"""One workload's closed loop inside a pinned Spark process.

Started by ``run.py`` with the runtime pinned through the package's public
environment knobs; writes timings and raw outputs to ``result.json`` in its
working directory. All checking happens in ``run.py`` after this process
has exited, so no oracle work shares the timed region.

Usage: python3 worker.py CONFIG_JSON
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import proctree

#: warm-up ends once two ops in a row are no more than 5% faster than the
#: fastest op before them: the knee of the warm-up curve. Two, and 5%,
#: because the curve has steps, and an op or two on a step look flat
KNEE = 0.95


def drain(df) -> None:
    """Execute a plan to the end without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


class Recorder:
    """Wall and process-tree CPU time of each timed operation."""

    def __init__(self) -> None:
        self.me = os.getpid()
        self.ops: list[dict] = []

    def start(self) -> dict:
        return {"t0": time.time(), "p0": time.perf_counter(), "c0": proctree.cpu_s(self.me)}

    def stop(self, mark: dict, kind: str, **extra) -> None:
        p1 = time.perf_counter()
        self.ops.append(
            {
                "kind": kind,
                "wall": p1 - mark["p0"],
                "cpu": proctree.cpu_s(self.me) - mark["c0"],
                "t0": mark["t0"],
                "t1": time.time(),
                **extra,
            }
        )


def knee(times: list[float]) -> bool:
    """True once the last two ops are both no longer clearly faster than
    the best before them: the JIT curve has flattened."""
    return len(times) >= 3 and min(times[-2:]) >= KNEE * min(times[:-2])


class BatchWorkload:
    """A workload whose operation is one whole batch job."""

    def prep(self, spark) -> None:
        self.spark = spark

    def job(self, rec: Recorder, traced: bool) -> None:
        raise NotImplementedError

    def warm_up(self, rec: Recorder, max_ops: int) -> list[float]:
        """Run jobs until their time stops falling, or ``max_ops`` jobs. At
        the knee the last job, already on the flat part, is kept as the
        first timed job; otherwise all are untimed. Returns the untimed
        warm-up curve."""
        while True:
            self.job(rec, traced=False)
            times = [op["wall"] for op in rec.ops]
            if knee(times):
                del rec.ops[:-1]
                return times[:-1]
            if len(times) >= max_ops:
                rec.ops.clear()
                return times

    def measure(self, rec: Recorder, seconds: float, trace: bool, min_ops: int) -> None:
        """Closed loop of jobs. With ``trace`` each plain job is followed by
        a traced one, so both see the same JIT and cache state."""
        t_end = time.perf_counter() + seconds
        done = len(rec.ops)  # the job that ended the warm-up
        while done < min_ops or time.perf_counter() < t_end:
            self.job(rec, traced=False)
            if trace:
                self.job(rec, traced=True)
            done += 1


class WikiLinkcount(BatchWorkload):
    """XML dump → distinct (target, source) pairs → counts → CSV."""

    def __init__(self, cfg: dict):
        self.dump = cfg["inputs"]["dump"]
        self.out = cfg["out_dir"]
        self.n = 0

    def _pages(self):
        from mapreduce_itwiki_spark.sources import xml_pages

        return xml_pages.read_pages(self.spark, self.dump)

    def job(self, rec: Recorder, traced: bool) -> None:
        from mapreduce_itwiki_spark.operators import linkgraph as lg
        from mapreduce_itwiki_spark.sources import sinks

        out = os.path.join(self.out, f"job{self.n}")
        self.n += 1
        steps = {}
        if traced:
            # each layer's output drained on its own: cumulative times of
            # the nested pipeline prefixes
            for name, plan in (
                ("read", lambda p: p),
                ("extract", lg.extract_link_pairs),
                ("distinct", lambda p: lg.distinct_pairs(lg.extract_link_pairs(p))),
                ("count_sort", lg.incoming_reference_counts),
            ):
                t0 = time.perf_counter()
                drain(plan(self._pages()))
                steps[name] = time.perf_counter() - t0
        mark = rec.start()
        sinks.write_csv_with_header(lg.incoming_reference_counts(self._pages()), out)
        rec.stop(mark, "job", out=out, traced=traced, steps=steps)

    def counts(self) -> dict:
        from mapreduce_itwiki_spark.operators import linkgraph as lg

        links = lg.extract_link_pairs(self._pages())
        return {
            "pages": self._pages().count(),
            "raw_links": links.count(),
            "distinct_pairs": lg.distinct_pairs(links).count(),
        }


class NeardupMinhash(BatchWorkload):
    """documents parquet → MinHash-LSH near-duplicate pairs."""

    def __init__(self, cfg: dict):
        self.docs_path = cfg["inputs"]["docs"]

    def prep(self, spark) -> None:
        self.spark = spark
        self._docs().schema

    def _docs(self):
        return self.spark.read.parquet(self.docs_path)

    @staticmethod
    def _rows(docs):
        from pyspark.sql import functions as F

        from mapreduce_itwiki_spark.operators import dedup

        return dedup.shingle_rows(docs.select("doc_id", "text")).repartition(F.col("doc_id"))

    def job(self, rec: Recorder, traced: bool) -> None:
        from mapreduce_itwiki_spark.operators import dedup

        steps = {}
        if traced:
            for name, plan in (
                ("scan", lambda d: d.select("doc_id", "text")),
                ("shingle", self._rows),
                ("signatures", lambda d: dedup.minhash_signatures(d, rows=self._rows(d))),
                ("candidates", lambda d: dedup.minhash_candidate_pairs(d, rows=self._rows(d))),
            ):
                t0 = time.perf_counter()
                drain(plan(self._docs()))
                steps[name] = time.perf_counter() - t0
        mark = rec.start()
        pairs = [tuple(r) for r in dedup.minhash_near_dups(self._docs()).collect()]
        rec.stop(mark, "job", pairs=pairs, traced=traced, steps=steps)

    def counts(self) -> dict:
        from mapreduce_itwiki_spark.operators import dedup

        d = self._docs()
        return {
            "rows": d.count(),
            "candidate_pairs": dedup.minhash_candidate_pairs(d, rows=self._rows(d)).count(),
        }


class AnnServeIngest:
    """Persisted IVF index: top-10 queries with an append batch before every
    fixed number of queries.

    The schedule is a fixed cycle of rounds (one append, then the round's
    queries); every cycle starts from the freshly built index, so the index a
    query sees depends only on its position in the cycle, and a run measures
    whole cycles only."""

    def __init__(self, cfg: dict):
        self.base = cfg["inputs"]["base"]
        self.batches = cfg["inputs"]["batches"]
        self.qids = cfg["inputs"]["qids"]
        self.warm_qids = cfg["inputs"]["warm_qids"]
        self.index = os.path.join(cfg["out_dir"], "index")
        self.snapshot = os.path.join(cfg["out_dir"], "index.snapshot")
        self.per_round = len(self.qids) // len(self.batches)
        self.k = cfg["k"]
        self.warm_pos = 0

    def prep(self, spark) -> None:
        from mapreduce_itwiki_spark.operators import similarity

        self.spark = spark
        self.emb = spark.read.parquet(self.base)
        similarity.ivf_index_write(self.emb, self.index)

    def _reset(self) -> None:
        shutil.rmtree(self.index)
        shutil.copytree(self.snapshot, self.index)

    def _append(self, b: int) -> None:
        from mapreduce_itwiki_spark.operators import similarity

        similarity.ivf_index_append(self.spark, self.index, self.spark.read.parquet(self.batches[b]))

    def _query(self, qid: int) -> tuple[float, float, list]:
        from mapreduce_itwiki_spark.operators import similarity

        t0 = time.perf_counter()
        df = similarity.ivf_index_topk(self.spark, self.index, qid, k=self.k, emb=self.emb)
        t1 = time.perf_counter()
        rows = [(int(r.vec_id), float(r.cosine)) for r in df.collect()]
        return t1 - t0, time.perf_counter() - t1, rows

    def _index_files(self) -> int:
        return sum(
            f.endswith(".parquet")
            for _, _, files in os.walk(os.path.join(self.index, "lists"))
            for f in files
        )

    def warm_up(self, rec: Recorder, max_ops: int) -> list[float]:
        """Keep a copy of the built index, then run warm-up rounds (an
        append, then queries on ids disjoint from the timed ones) until
        their time stops falling, or ``max_ops`` rounds. None of them is
        timed: timed cycles start from the copy."""
        shutil.copytree(self.index, self.snapshot)
        times: list[float] = []
        while not (knee(times) or len(times) >= max_ops):
            t0 = time.perf_counter()
            self._append(0)
            for _ in range(self.per_round):
                self._query(self.warm_qids[self.warm_pos % len(self.warm_qids)])
                self.warm_pos += 1
            times.append(time.perf_counter() - t0)
        return times

    def measure(self, rec: Recorder, seconds: float, trace: bool, min_ops: int) -> None:
        """Whole schedule cycles until ``seconds`` have passed, at least one.
        Every query records its probe/scan split, so ``trace`` changes
        nothing here."""
        t_end = time.perf_counter() + seconds
        cycles = 0
        while cycles == 0 or time.perf_counter() < t_end:
            self._reset()
            for b in range(len(self.batches)):
                rmark = rec.start()
                mark = rec.start()
                self._append(b)
                rec.stop(mark, "append", batch=b)
                for j in range(self.per_round):
                    pos = b * self.per_round + j
                    files = self._index_files()
                    mark = rec.start()
                    probe, scan, rows = self._query(self.qids[pos])
                    rec.stop(mark, "query", pos=pos, batch=b, probe=probe, scan=scan,
                             rows=rows, files=files)
                rec.stop(rmark, "round", batch=b)
            cycles += 1

    def counts(self) -> dict:
        return {}


WORKLOADS = {
    "wiki_linkcount": WikiLinkcount,
    "neardup_minhash": NeardupMinhash,
    "ann_serve_ingest": AnnServeIngest,
}


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    from mapreduce_itwiki_spark.session import get_spark

    wl = WORKLOADS[cfg["workload"]](cfg)
    # set-up: cold get_spark until the workload is ready to serve
    t_setup = time.perf_counter()
    spark = get_spark()
    t_session = time.perf_counter()
    wl.prep(spark)
    t_warm = time.perf_counter()
    res: dict = {"setup": {"session_s": t_session - t_setup, "total_s": t_warm - t_setup}}
    rec = Recorder()
    res["warmup_s"] = wl.warm_up(rec, cfg["warmup_max_ops"])
    t_measure = time.perf_counter()
    wl.measure(rec, cfg["seconds"], trace=bool(cfg["trace"]), min_ops=cfg["min_ops"])
    res["ops"] = rec.ops
    t_stop = time.perf_counter()
    if cfg["trace"]:
        res["counts"] = wl.counts()
    spark.stop()
    res["phase_s"] = {
        "setup": t_warm - t_setup,
        "warmup": t_measure - t_warm,
        "measure": t_stop - t_measure,
        "stop": time.perf_counter() - t_stop,
    }
    with open(cfg["result"], "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main(sys.argv[1])
