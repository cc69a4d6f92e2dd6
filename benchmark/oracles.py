"""Independent oracles for the benchmark's outputs, run outside the timed
region.

* wiki link counts: a pure-Python simulation of the reference link rules
  over a streaming parse of the dump (Python ``re`` agrees with Java here:
  ``.*?`` is non-greedy and ``.`` does not cross a newline);
* MinHash near-duplicates: the catalog's DuckDB SQL for
  ``dedup_minhash_lsh`` over the same parquet file;
* IVF top-k: brute-force NumPy cosine over the index contents.
"""

from __future__ import annotations

import csv
import glob
import re
import xml.etree.ElementTree as ET

import numpy as np

_LINK = re.compile(r"\[\[(.*?)\]\]")
_STRIP = re.compile(r"[\[\],]")
_BLACKLIST = ("File:", "Categoria:", "Category:", "Aiuto:", "s:", "Image:", "Immagine:")


def wiki_counts(xml_path: str) -> dict[str, int]:
    """Distinct-source incoming-link count per target, by the reference rules:
    text before the first pipe, namespace substring blacklist, strip every
    ``[ ] ,``, trim, drop empties, count each (target, source) pair once."""
    pairs: set[tuple[str, str]] = set()
    title = None
    for _, elem in ET.iterparse(xml_path, events=("end",)):
        tag = elem.tag.rsplit("}", 1)[-1]
        if tag == "title":
            title = (elem.text or "").strip()
        elif tag == "text" and title:
            for m in _LINK.finditer(elem.text or ""):
                link = m.group(0).split("|", 1)[0]
                if any(ns in link for ns in _BLACKLIST):
                    continue
                target = _STRIP.sub("", link).strip()
                if target:
                    pairs.add((target, title))
        elif tag == "page":
            title = None
            elem.clear()
    counts: dict[str, int] = {}
    for target, _ in pairs:
        counts[target] = counts.get(target, 0) + 1
    return counts


def read_csv_counts(out_dir: str) -> list[tuple[str, int]]:
    """The sink's rows in file order (part files by name). Each part
    carries its own header."""
    rows: list[tuple[str, int]] = []
    for part in sorted(glob.glob(f"{out_dir}/part-*.csv")):
        with open(part, newline="", encoding="utf-8") as f:
            reader = csv.reader(f)
            if next(reader, None) != ["page_title", "count"]:
                raise ValueError(f"{part}: missing page_title,count header")
            rows.extend((t, int(c)) for t, c in reader)
    return rows


def minhash_pairs(parquet_path: str, sql: str) -> set[tuple[int, int, float]]:
    """Run the catalog's ``dedup_minhash_lsh`` oracle SQL in DuckDB.

    The shingle and signature CTEs are marked MATERIALIZED (same result):
    DuckDB otherwise inlines them into each of their ten references."""
    import duckdb

    sql = sql.replace("sh AS (", "sh AS MATERIALIZED (", 1).replace(
        "sig AS (", "sig AS MATERIALIZED (", 1
    )
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(
            f"CREATE VIEW documents AS SELECT doc_id, text FROM read_parquet('{parquet_path}')"
        )
        return {(int(a), int(b), round(float(j), 6)) for a, b, j in con.execute(sql).fetchall()}
    finally:
        con.close()


def planted_above(parquet_path: str, planted: list, threshold: float = 0.5) -> list:
    """The planted pairs whose exact 3-token-shingle Jaccard is at least
    ``threshold``: the pairs a perfect near-duplicate detector returns."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=["doc_id", "text"]).to_pydict()
    text = dict(zip(t["doc_id"], t["text"]))

    def shingles(doc_id):
        toks = text[doc_id].split(" ")
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}

    out = []
    for a, b, _ in planted:
        sa, sb = shingles(a), shingles(b)
        if round(len(sa & sb) / len(sa | sb), 6) >= threshold:
            out.append((a, b))
    return sorted(out)


class VectorOracle:
    """Brute-force cosine and IVF-probe replay over the rows an index holds."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray, cids: np.ndarray, centroids: np.ndarray):
        """``cids`` ascending, ``centroids`` in the same order; a vector's
        cell is its nearest centroid by rounded squared L2, lowest cid on a
        tie."""
        self.ids = ids
        self.vecs = vecs.astype(np.float64)
        self.norms = np.linalg.norm(self.vecs, axis=1)
        d = ((self.vecs[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        self.cells = cids[np.argmin(np.round(d, 6), axis=1)]
        self.cids = cids
        self.centroids = centroids

    def extend(self, ids: np.ndarray, vecs: np.ndarray) -> "VectorOracle":
        return VectorOracle(
            np.concatenate([self.ids, ids]),
            np.concatenate([self.vecs, vecs.astype(np.float64)]),
            self.cids,
            self.centroids,
        )

    def cosines(self, q: np.ndarray) -> np.ndarray:
        return (self.vecs @ q) / (self.norms * np.linalg.norm(q))

    def probed_cells(self, q: np.ndarray, nprobe: int) -> np.ndarray:
        d = np.round(((self.centroids - q) ** 2).sum(axis=1), 6)
        return self.cids[np.lexsort((self.cids, d))[:nprobe]]

    def check_topk(
        self, qid: int, got: list[tuple[int, float]], k: int, nprobe: int
    ) -> tuple[bool, float, int]:
        """(correct, recall@k against brute force, candidates in the probed
        cells). Correct means: every returned cosine matches NumPy, and the
        result is the exact top-k of the probed cells' rows (ties within
        1e-6 may come in either order)."""
        qi = int(np.flatnonzero(self.ids == qid)[0])
        q = self.vecs[qi]
        cos = self.cosines(q)
        others = self.ids != qid
        cand = others & np.isin(self.cells, self.probed_cells(q, nprobe))
        n_cand = int(cand.sum())
        pos = {int(v): i for i, v in enumerate(self.ids)}
        ok = len(got) == min(k, n_cand) and len({v for v, _ in got}) == len(got)
        for vid, c in got:
            i = pos.get(vid)
            ok = ok and i is not None and bool(cand[i]) and abs(cos[i] - c) <= 1e-6
        if ok and got:
            kth = np.sort(cos[cand])[::-1][len(got) - 1]
            ok = min(c for _, c in got) >= kth - 1e-6
        exact = self.ids[others][np.argsort(-cos[others], kind="stable")[:k]]
        recall = len(set(exact.tolist()) & {v for v, _ in got}) / k
        return ok, recall, n_cand
