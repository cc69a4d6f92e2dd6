"""Seeded input generators for the three benchmark workloads.

Each generator is a pure function of ``(seed, size)``: the same pair writes
byte-identical files, so a run's inputs are fixed by its ``--seed`` and the
program under test only ever sees the files written here.
"""

from __future__ import annotations

import bisect
import os
import random
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# wiki_linkcount: a MediaWiki 0.10 dump with power-law in-links

_WORDS = (
    "il la di che e un una per con non sono della nel alla storia citta "
    "fiume anno secolo guerra regno chiesa museo stazione comune provincia "
    "regione popolazione abitanti territorio lingua opera musica film serie "
    "squadra campionato partita stagione autore libro romanzo poesia arte "
    "scienza fisica chimica biologia medicina diritto economia politica "
    "universita scuola studio ricerca teoria metodo sistema rete dati"
).split()

#: link markup whose target never survives the reference rules: the
#: namespace substring blacklist, entity-bearing and comma targets are
#: generated separately below
_DROPPED_LINKS = (
    "[[Categoria:{w}]]",
    "[[Category:{w}]]",
    "[[File:{w}.jpg|thumb|{w}]]",
    "[[Image:{w}.png]]",
    "[[Immagine:{w}.svg|{w}]]",
    "[[Aiuto:{w}]]",
    "[[s:{w}]]",
    "[[Links: {w}]]",
    "[[,]]",
    "[[ ]]",
)


def _zipf_cdf(n: int, s: float) -> list[float]:
    weights = [1.0 / (i + 1) ** s for i in range(n)]
    total = sum(weights)
    cdf, acc = [], 0.0
    for w in weights:
        acc += w / total
        cdf.append(acc)
    return cdf


def wiki_dump(path: str, seed: int, size_bytes: int) -> int:
    """Write a MediaWiki export of about ``size_bytes`` to ``path``.

    In-links follow a Zipf law over a target universe that mixes real page
    titles with red links, and the text carries the reference's full quirk
    mix: pipes, anchors, namespace links (dropped by substring), nested
    ``[[File:..[[x]]..]]`` (the inner link is swallowed), repeats, padded
    targets, commas, XML entities and links broken across a newline.
    Returns the number of pages written."""
    rng = random.Random(seed)
    n_pages = max(size_bytes // 7000, 10)
    titles = [f"Voce {i} {rng.choice(_WORDS)}" for i in range(n_pages)]
    red = [f"Assente {i} {rng.choice(_WORDS)}" for i in range(n_pages // 4)]
    specials = [f"Roma, {w}" for w in _WORDS[:20]] + [f"A&B {w} <x>" for w in _WORDS[:20]]
    universe = titles + red + specials
    rng.shuffle(universe)
    cdf = _zipf_cdf(len(universe), 1.05)
    filler = [
        " ".join(rng.choice(_WORDS) for _ in range(rng.randint(8, 24))) for _ in range(512)
    ]

    def target() -> str:
        return universe[min(bisect.bisect_left(cdf, rng.random()), len(universe) - 1)]

    def link() -> str:
        r = rng.random()
        t = target()
        if r < 0.45:
            return f"[[{t}]]"
        if r < 0.65:
            return f"[[{t}|{rng.choice(_WORDS)} {rng.choice(_WORDS)}]]"
        if r < 0.70:
            return f"[[{t}#Sezione {rng.randint(1, 3)}|{rng.choice(_WORDS)}]]"
        if r < 0.75:
            return f"[[  {t} ]]"
        if r < 0.80:
            return f"[[File:{rng.choice(_WORDS)}.jpg|thumb [[{t}]] didascalia]]"
        if r < 0.84:
            broken = t.replace(" ", "\n", 1) if " " in t else t + "\n"
            return f"[[{broken}]]"
        if r < 0.87:
            return f"[[{t}[{rng.choice(_WORDS)}]]"
        return rng.choice(_DROPPED_LINKS).format(w=rng.choice(_WORDS))

    out = []
    out.append(
        '<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/" '
        'version="0.10" xml:lang="it">\n'
        "  <siteinfo>\n    <sitename>Wikipedia</sitename>\n"
        "    <dbname>itwiki</dbname>\n  </siteinfo>\n"
    )
    for pid, title in enumerate(titles):
        lines = []
        for _ in range(rng.randint(6, 30)):
            parts = [rng.choice(filler)]
            for _ in range(rng.randint(0, 4)):
                lnk = link()
                parts.append(lnk)
                if rng.random() < 0.15:  # the same link again on the page
                    parts.append(lnk)
                parts.append(rng.choice(filler))
            lines.append(" ".join(parts))
        text = "\n".join(lines)
        out.append(
            "  <page>\n"
            f"    <title>{escape(title)}</title>\n"
            "    <ns>0</ns>\n"
            f"    <id>{pid + 1}</id>\n"
            "    <revision>\n"
            f"      <id>{100000 + pid}</id>\n"
            f'      <text bytes="{len(text)}" xml:space="preserve">{escape(text)}</text>\n'
            "    </revision>\n"
            "  </page>\n"
        )
    out.append("</mediawiki>\n")
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write("".join(out))
    return n_pages


# ---------------------------------------------------------------------------
# neardup_minhash: a documents table with planted near-copies

#: target Jaccard values of the planted pairs, spread around the 0.5 verify
#: threshold so both sides of it are exercised
PLANTED_JACCARDS = (0.3, 0.4, 0.45, 0.5, 0.55, 0.6, 0.7, 0.8, 0.9, 1.0)


def _near_copy(rng: random.Random, tokens: list[str], jaccard: float, vocab: list[str]) -> list[str]:
    """Mutate ``tokens`` so their 3-shingle sets land near ``jaccard``.

    Replacing one token destroys the (up to) three shingles covering it, so
    the number of replaced positions is chosen from the shingle count."""
    n_sh = len(tokens) - 2
    # J = kept / (2 n - kept) for a same-length copy with `kept` shared shingles
    kept = round(2 * n_sh * jaccard / (1 + jaccard))
    n_replace = max(0, round((n_sh - kept) / 3))
    copy = list(tokens)
    positions = rng.sample(range(len(tokens)), min(n_replace, len(tokens)))
    for p in positions:
        copy[p] = rng.choice(vocab) + "x"
    return copy


def documents(path: str, seed: int, n_docs: int) -> list[tuple[int, int, float]]:
    """Write a ``documents`` parquet (doc_id, text) of ``n_docs`` rows.

    Background documents draw from a large vocabulary (pairwise Jaccard ≈ 0);
    one in five documents is a planted near-copy of an earlier one at a
    Jaccard drawn from :data:`PLANTED_JACCARDS`. Returns the planted pairs as
    (doc_a, doc_b, target_jaccard) with doc_a < doc_b."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(20000)]
    ids = list(range(n_docs))
    rng.shuffle(ids)  # doc_ids are not in generation order
    texts: list[str] = []
    token_lists: list[list[str]] = []
    planted = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.2:
            src = rng.randrange(i)
            j = rng.choice(PLANTED_JACCARDS)
            toks = _near_copy(rng, token_lists[src], j, vocab)
            a, b = sorted((ids[src], ids[i]))
            planted.append((a, b, j))
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randint(40, 120))]
        token_lists.append(toks)
        texts.append(" ".join(toks))
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    # several row groups, so a reader can split the scan
    pq.write_table(table, path, compression="snappy", row_group_size=max(n_docs // 8, 1))
    return planted


# ---------------------------------------------------------------------------
# ann_serve_ingest: a clustered 64-d embedding corpus plus append batches

DIM = 64


def embeddings(seed: int, n_rows: int, first_id: int = 0, n_clusters: int = 64) -> pa.Table:
    """A clustered ``embeddings`` table (vec_id, embedding, label).

    Cluster centres depend on ``seed`` only, so a later batch drawn with a
    different ``first_id`` shares the corpus's geometry."""
    centres = np.random.default_rng(seed).normal(0.0, 1.0, (n_clusters, DIM))
    rng = np.random.default_rng([seed, first_id, n_rows])
    labels = rng.integers(0, n_clusters, n_rows)
    vecs = (centres[labels] + rng.normal(0.0, 0.35, (n_rows, DIM))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(first_id, first_id + n_rows), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path, compression="snappy")
