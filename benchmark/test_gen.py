"""The generators are pure functions of (seed, size): the same seed writes
byte-identical files and another seed writes different ones.

    python3 -m pytest benchmark/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _wiki(path, seed):
    gen.wiki_dump(path, seed, 200_000)


def _docs(path, seed):
    gen.documents(path, seed, 300)


def _emb(path, seed):
    gen.write_parquet(gen.embeddings(seed, 500), path)


def _batch(path, seed):
    gen.write_parquet(gen.embeddings(seed, 50, first_id=500), path)


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.mark.parametrize("write", [_wiki, _docs, _emb, _batch], ids=lambda f: f.__name__)
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, write):
    a, b, c = (str(tmp_path / name) for name in ("a", "b", "c"))
    write(a, 7)
    write(b, 7)
    write(c, 8)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_planted_pairs_are_deterministic_and_ordered(tmp_path):
    p1 = gen.documents(str(tmp_path / "a"), 3, 300)
    p2 = gen.documents(str(tmp_path / "b"), 3, 300)
    assert p1 == p2 and p1
    assert all(a < b for a, b, _ in p1)


def test_append_batches_share_the_corpus_geometry():
    base = gen.embeddings(5, 100)
    batch = gen.embeddings(5, 100, first_id=100)
    assert batch["vec_id"].to_pylist() == list(range(100, 200))
    assert set(base["label"].to_pylist()) & set(batch["label"].to_pylist())
