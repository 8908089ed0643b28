"""The shared banded near-dup skeleton (operators/banding.py) on small
in-memory fingerprint frames with planted exact and near duplicates,
checked against brute-force Python enumeration — no decode stage, so the
skeleton itself is pinned independently of the media codecs."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from procurement_system_bigdata_spark.operators import banding, codecs, multimodal
from procurement_system_bigdata_spark.plans.explain import formatted_plan


def _hex_rows():
    """(media_id, dhash): 12 random 64-bit hashes, each with exact
    duplicates, a 1-3-bit near dup, a 5-bit near dup inside one band
    (candidate + confirmed at max 6) and a 5-bit one spread over all four
    bands (no shared band: never a candidate)."""
    rng = random.Random(12)
    rows, mid = [], 0
    for _ in range(12):
        h = rng.getrandbits(64)
        variants = [h, h, h, h ^ sum(1 << rng.randrange(64) for _ in range(3))]
        variants.append(h ^ (0b11111 << (16 * rng.randrange(4) + 3)))
        variants.append(h ^ (1 << 2) ^ (1 << 20) ^ (1 << 37) ^ (1 << 52) ^ (1 << 60))
        for v in variants:
            rows.append((mid, "%016x" % v))
            mid += 1
    return rows


def _window_rows():
    """(media_id, w0..w7): zero-crossing windows with exact duplicates and
    +-1 / +-2 deviations in single windows."""
    rng = random.Random(8)
    n_w = codecs.FP_WINDOWS
    rows, mid = [], 0
    for _ in range(10):
        base = [rng.randrange(40, 400) for _ in range(n_w)]
        for dev in (0, 0, 1, -1, 2):
            v = list(base)
            v[rng.randrange(n_w)] += dev
            rows.append((mid, *v))
            mid += 1
    return rows


def _hamming(x: str, y: str) -> int:
    return bin(int(x, 16) ^ int(y, 16)).count("1")


def _brute_pairs(rows, candidate, dist, max_dist):
    out = {}
    for i, (a, *sa) in enumerate(rows):
        for b, *sb in rows[i + 1 :]:
            if candidate(sa, sb) and dist(sa, sb) <= max_dist:
                out[(min(a, b), max(a, b))] = dist(sa, sb)
    return out


def _components(ids, edges):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    groups = {}
    for i in ids:
        groups.setdefault(find(i), set()).add(i)
    return sorted(sorted(g) for g in groups.values())


def _check(fps, rows, spec, candidate, dist):
    want = _brute_pairs(rows, candidate, dist, spec["max_dist"])
    pairs = banding.banded_pairs(fps, "media_id", **spec)
    got = {(r.media_a, r.media_b): r[spec["dist_col"]] for r in pairs.collect()}
    assert got == want
    assert any(d == 0 for d in want.values()) and any(d > 0 for d in want.values())

    edges = banding.banded_star_edges(fps, "media_id", **spec)
    edge_rows = [(r.doc_a, r.doc_b) for r in edges.collect()]
    ids = [r[0] for r in rows]
    assert _components(ids, edge_rows) == _components(ids, want)
    assert len(edge_rows) < len(want)  # stars replace the exact-dup cliques

    stacked = banding.stack_bands(fps, "media_id", spec["keys"], carry=spec["sig_cols"])
    cand = banding.band_self_join(
        stacked, "media_id", spec["distance"]("a", "b").alias("d")
    )
    for df in (cand, pairs, edges):
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    return got


def test_banded_pairs_and_star_edges_hamming64(spark):
    rows = _hex_rows()
    fps = spark.createDataFrame(rows, "media_id long, dhash string")
    spec = multimodal._image_banding(multimodal.DHASH_MAX_HAMMING)

    def candidate(sa, sb):
        return any(sa[0][4 * i : 4 * i + 4] == sb[0][4 * i : 4 * i + 4] for i in range(4))

    got = _check(fps, rows, spec, candidate, lambda sa, sb: _hamming(sa[0], sb[0]))
    # within the verify threshold but sharing no band: never a candidate
    assert _hamming(rows[0][1], rows[5][1]) == 5
    assert (0, 5) not in got


def test_banded_pairs_and_star_edges_max_window_deviation(spark):
    rows = _window_rows()
    cols = ", ".join(f"w{i} long" for i in range(codecs.FP_WINDOWS))
    fps = spark.createDataFrame(rows, f"media_id long, {cols}")
    spec = multimodal._audio_banding(multimodal.AUDIO_FP_MAX_DEV)

    def candidate(sa, sb):
        return any((x + g) // 2 == (y + g) // 2 for x, y in zip(sa, sb) for g in (0, 1))

    def dev(sa, sb):
        return max(abs(x - y) for x, y in zip(sa, sb))

    _check(fps, rows, spec, candidate, dev)


def test_stack_bands_numbers_bands_in_key_order(spark):
    df = spark.createDataFrame([(7, 10)], "doc_id long, v long")
    keys = [F.col("v") + i for i in range(3)]
    got = banding.stack_bands(df, "doc_id", keys, carry=["v"], out_id="new_id")
    assert got.columns == ["new_id", "v", "band", "key"]
    assert sorted(tuple(r) for r in got.collect()) == [
        (7, 10, 0, 10),
        (7, 10, 1, 11),
        (7, 10, 2, 12),
    ]
