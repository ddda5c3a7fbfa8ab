"""Winnowing fingerprints (functions/text.winnow_fingerprints —
Schleimer et al.'s MOSS selection): Python-reference parity, the
shared-substring guarantee, tie determinism, and density."""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import functions as F

from bigdata_cookbook_spark.functions.text import winnow_fingerprints

K, W = 5, 4


def _ref(text: str | None, k: int = K, w: int = W) -> set[str]:
    """Independent Python model of the documented selection rule."""
    t = (text or "").lower().split()
    if len(t) < k:
        return set()
    grams = [" ".join(t[i : i + k]) for i in range(len(t) - k + 1)]
    hs = [hashlib.md5(g.encode()).hexdigest() for g in grams]
    n = len(grams)
    out = set()
    for s in range(max(n - w + 1, 1)):
        idxs = [min(s + j, n - 1) for j in range(w)]
        best = min(idxs, key=lambda i: (hs[i], -i))
        out.add(grams[best])
    return out


def test_matches_python_reference_random(spark):
    """Random corpora with heavy gram repetition (tie pressure), several
    docs per Arrow batch, plus the edge rows: NULL, empty and
    whitespace-only text, docs shorter than k (no rows) and shorter
    than k+w-1 (one window), all-identical grams and Unicode tokens."""
    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 60))))
        for i in range(80)
    ]
    uni = ["aa", "bb", "ALPHA", "héllo", "日本", "x"]
    rows += [
        (100 + i, " ".join(rng.choice(uni) for _ in range(rng.randint(0, 30))))
        for i in range(20)
    ]
    rows += [
        (900, "one two three four"),  # < k tokens: no rows
        (901, "a b c d e"),  # exactly k: one window
        (902, "a b c d e f g"),  # < k+w-1: still one window
        (903, ""),
        (904, "   \t  "),
        (905, None),
        (906, " ".join(["dup"] * 20)),  # all grams identical: ties
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got: list[tuple[int, str]] = [
        (r.doc_id, r.gram) for r in winnow_fingerprints(df).collect()
    ]
    # distinct per document: a gram winning two windows >= w apart is
    # one output row
    assert len(got) == len(set(got))
    per: dict[int, set] = {}
    for d, g in got:
        per.setdefault(d, set()).add(g)
    for i, text in rows:
        assert per.get(i, set()) == _ref(text), (i, text)
    assert per[906] == {"dup dup dup dup dup"}


def test_shared_substring_guarantee(spark):
    """The winnowing theorem: two docs sharing >= k + w - 1 consecutive
    tokens share at least one selected fingerprint — the property that
    makes the sketch usable for near-dup/plagiarism candidate
    generation at ~2/(w+1) of the full gram set."""
    rng = random.Random(7)
    shared = " ".join(f"s{i}" for i in range(K + W - 1))
    pairs = []
    for trial in range(20):
        pre = " ".join(f"a{trial}_{i}" for i in range(rng.randint(0, 25)))
        post = " ".join(f"b{trial}_{i}" for i in range(rng.randint(0, 25)))
        pairs.append((2 * trial, f"{pre} {shared} {post}".strip()))
        pre2 = " ".join(f"c{trial}_{i}" for i in range(rng.randint(0, 25)))
        pairs.append((2 * trial + 1, f"{pre2} {shared}".strip()))
    df = spark.createDataFrame(pairs, "doc_id long, text string")
    fp: dict[int, set] = {}
    for r in winnow_fingerprints(df).collect():
        fp.setdefault(r.doc_id, set()).add(r.gram)
    for trial in range(20):
        assert fp[2 * trial] & fp[2 * trial + 1], f"trial {trial}"


def test_short_docs_and_density(spark):
    rows = [
        (1, "a b c"),              # < k tokens: no fingerprints
        (2, "a b c d e"),          # exactly k: one gram, one window
        (3, " ".join(f"t{i}" for i in range(200))),  # long unique doc
        (4, "   "),  # blank: its split is [""], one empty token
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    per = {
        r.doc_id: r.n
        for r in winnow_fingerprints(df)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert 1 not in per and 4 not in per
    assert per[2] == 1
    # blank text emits nothing even when one token makes a whole gram
    k1 = {r.doc_id for r in winnow_fingerprints(df, k=1, w=1).collect()}
    assert k1 == {1, 2, 3}
    # density: expected ~2/(w+1) of 196 grams ≈ 78; generous bounds
    assert 30 <= per[3] <= 140
