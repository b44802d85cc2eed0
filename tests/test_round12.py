"""Round-12 operator invariants beyond the registry-wide oracle
compare: independent Python recomputes (hashlib / math / sorted) that
would catch a wrong formula even if both engines shared the same
mistake."""

from __future__ import annotations

import hashlib
import math

from sqlengine_spark.engine import SQLEngine
from sqlengine_spark.registry import all_queries
from tests.conftest import SF_DIR_SMALL


def _docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
        .select("doc_id", "text", "lang", "n_chars")
        .collect()
    )


def _u01(doc_id: int) -> float:
    bits = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
    return (bits + 0.5) / 4294967296.0


def test_weighted_topk_matches_python_aes_recompute(spark):
    """A-ES keys recomputed with hashlib+math.log must reproduce the
    exact per-lang top-40 (ids AND order) — the sample is a pure
    function of (doc_id, n_chars)."""
    rows = _docs(spark)
    per_lang: dict = {}
    for r in rows:
        w = max(r["n_chars"], 1)
        kq = math.floor(math.log(_u01(r["doc_id"])) / float(w) * 1e12)
        per_lang.setdefault(r["lang"], []).append((-kq, r["doc_id"]))
    expect = []
    for lang in sorted(per_lang):
        ranked = sorted(per_lang[lang])[:40]
        for i, (negkq, doc_id) in enumerate(ranked, 1):
            expect.append((lang, i, doc_id, -negkq))
    got = [
        (r["lang"], r["rk"], r["doc_id"], r["kq"])
        for r in all_queries()["l_sample_weighted_topk"](
            spark, SF_DIR_SMALL
        ).collect()
    ]
    assert got == expect


def test_weighted_topk_is_weight_biased(spark):
    """Sanity on the estimator itself: the weighted sample's mean
    n_chars must exceed the corpus mean (heavier docs are
    proportionally more likely) — catches an accidentally inverted
    key ordering that the exact-recompute test alone would share."""
    rows = _docs(spark)
    corpus_mean = sum(r["n_chars"] for r in rows) / len(rows)
    got = all_queries()["l_sample_weighted_topk"](spark, SF_DIR_SMALL).collect()
    sample_mean = sum(r["n_chars"] for r in got) / len(got)
    assert sample_mean > corpus_mean


def test_kendall_tau_matches_python_pair_recompute(spark):
    """tau-b recomputed from the raw O(n^2) pair loop on the decile
    grid must match the contingency-table formulation."""
    rows = _docs(spark)
    pts = [
        (min(r["n_chars"] // 60, 9), min(len(r["text"].split(" ")) // 11, 9))
        for r in rows
    ]
    n = len(pts)
    nc = nd = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = pts[i][0] - pts[j][0]
            dy = pts[i][1] - pts[j][1]
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
            if dx * dy > 0:
                nc += 1
            elif dx * dy < 0:
                nd += 1
    n0 = n * (n - 1) // 2
    tau = (nc - nd) / math.sqrt((n0 - tx) * (n0 - ty))
    [got] = all_queries()["l_eval_kendall_tau"](spark, SF_DIR_SMALL).collect()
    assert got["n"] == n
    assert got["nc"] == nc
    assert got["nd"] == nd
    assert abs(got["tau_b"] - tau) < 2e-9
    assert -1.0 <= got["tau_b"] <= 1.0


def test_rbo_matches_python_prefix_recompute(spark):
    """RBO@50 recomputed from literal prefix overlaps (the textbook
    X_d/d sum, NOT the suffix-weight rearrangement) must match."""
    rows = _docs(spark)
    a = [
        r["doc_id"]
        for r in sorted(rows, key=lambda r: (-r["n_chars"], r["doc_id"]))[:50]
    ]
    b = [
        r["doc_id"]
        for r in sorted(
            rows, key=lambda r: (-len(r["text"].split(" ")), r["doc_id"])
        )[:50]
    ]
    p = 0.9
    # the engines sum an integer 1e15 weight grid — recompute on the
    # SAME grid so the comparison is exact, then sanity-check the grid
    # against the float formula
    wq = [int((1 - p) * p ** (d - 1) / d * 1e15) for d in range(1, 51)]
    rbo_grid = 0
    for d in range(1, 51):
        x_d = len(set(a[:d]) & set(b[:d]))
        rbo_grid += x_d * wq[d - 1]
    rbo = rbo_grid / 1e15
    [got] = all_queries()["l_eval_rbo"](spark, SF_DIR_SMALL).collect()
    assert got["k"] == 50
    assert got["n_common"] == len(set(a) & set(b))
    assert abs(got["rbo"] - rbo) < 2e-9
    float_rbo = sum(
        (1 - p) * p ** (d - 1) / d * len(set(a[:d]) & set(b[:d]))
        for d in range(1, 51)
    )
    assert abs(rbo - float_rbo) < 1e-7
    assert 0.0 <= got["rbo"] <= 1.0


def test_prefix_cache_blocks_matches_python_recompute(spark):
    """Block-reuse curve recomputed with hashlib over literal prefix
    strings must match exactly — and the reuse rate must be
    non-increasing in block position (longer prefixes can only reuse
    less: a depth-d hit implies a depth-(d-1) hit)."""
    rows = _docs(spark)
    from collections import Counter, defaultdict

    per_key: Counter = Counter()
    key_bi: dict = {}
    for r in rows:
        w = r["text"].split(" ")
        for i in range(1, min(len(w) // 16, 8) + 1):
            key = hashlib.md5(" ".join(w[: 16 * i]).encode()).hexdigest()
            per_key[key] += 1
            key_bi[key] = i - 1
    agg: dict = defaultdict(lambda: [0, 0])
    for key, n in per_key.items():
        agg[key_bi[key]][0] += n
        agg[key_bi[key]][1] += n - 1
    got = all_queries()["l_prefix_cache_blocks"](spark, SF_DIR_SMALL).collect()
    assert [(r["block_idx"], r["n_blocks"], r["n_reused"]) for r in got] == [
        (bi, agg[bi][0], agg[bi][1]) for bi in sorted(agg)
    ]
    hits = {r["block_idx"]: r["n_reused"] for r in got}
    for bi in sorted(hits)[1:]:
        assert hits[bi] <= hits[bi - 1], "reuse must decay with depth"


def test_readability_matches_python_recompute(spark):
    """Flesch components recomputed with re must match every group
    row on the small fixture."""
    import re
    from collections import defaultdict

    rows = (
        spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
        .select("text", "lang", "source")
        .collect()
    )
    agg: dict = defaultdict(lambda: [0, 0, 0, 0, 0])  # n, w, st, sy, fq
    for r in rows:
        w = len(r["text"].split(" "))
        st = max(len(re.findall(r"[.!?]+", r["text"])), 1)
        sy = len(re.findall(r"[aeiouy]+", r["text"].lower()))
        f = 206.835 - 1.015 * (w / st) - 84.6 * (sy / w)
        a = agg[(r["lang"], r["source"])]
        a[0] += 1
        a[1] += w
        a[2] += st
        a[3] += sy
        a[4] += math.floor(f * 1e6 + 0.5)
    got = all_queries()["l_text_readability"](spark, SF_DIR_SMALL).collect()
    assert len(got) == len(agg)
    for r in got:
        n, w, st, sy, fq = agg[(r["lang"], r["source"])]
        assert r["n_docs"] == n and r["n_words"] == w
        assert abs(r["words_per_sentence"] - w / st) < 2e-6
        assert abs(r["syllables_per_word"] - sy / w) < 2e-6
        assert abs(r["mean_flesch"] - fq / n / 1e6) < 2e-6


def test_bitext_margin_matches_python_recompute(spark):
    """Margin recomputed from numpy dot products over the same
    md5-sampled 20 queries must match (ids, best target, margin)."""
    import numpy as np

    rows = (
        spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet")
        .select("vec_id", "embedding", "label")
        .collect()
    )
    by_id = {
        r["vec_id"]: (np.array(r["embedding"], dtype=np.float64), r["label"])
        for r in rows
    }
    qids = sorted(
        by_id, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:20]
    got = all_queries()["l_mine_bitext_margin"](spark, SF_DIR_SMALL).collect()
    assert sorted(r["q_id"] for r in got) == sorted(qids)
    for r in got:
        qe, ql = by_id[r["q_id"]]
        cands = []
        for vid, (e, lbl) in by_id.items():
            if lbl == ql:
                continue
            sq = math.floor(float(qe @ e) * 1e6 + 0.5)
            cands.append((-sq, vid, lbl))
        cands.sort()
        top4 = cands[:4]
        best = top4[0]
        s4 = sum(-c[0] for c in top4)
        assert r["best_vec_id"] == best[1]
        assert r["best_label"] == best[2]
        assert r["sq_best"] == -best[0]
        assert abs(r["margin"] - 4 * -best[0] / s4) < 2e-6


_POIS_HEX = ["5e2d", "bc5a", "eb71", "fb23", "ff10", "ffd9"]


def _pois_w(doc_id: int, b: int) -> int:
    h = hashlib.md5(f"{doc_id}_{b}".encode()).hexdigest()[:4]
    for k, c in enumerate(_POIS_HEX):
        if h < c:
            return k
    return 6


def test_bootstrap_ci_matches_python_recompute(spark):
    """The full Poisson bootstrap replayed in Python (hashlib weights,
    order-statistic picks) must reproduce the CI endpoints exactly —
    and the CI must bracket the point estimate."""
    rows = _docs(spark)
    xs = [(r["doc_id"], len(r["text"].split(" "))) for r in rows]
    means = []
    for b in range(200):
        sw = swx = 0
        for doc_id, x in xs:
            w = _pois_w(doc_id, b)
            sw += w
            swx += w * x
        means.append((swx / sw, b))
    means.sort()
    # symmetric order-statistic picks: 5th smallest / 5th largest
    lo, hi = means[4][0], means[195][0]
    [got] = all_queries()["l_eval_bootstrap_ci"](spark, SF_DIR_SMALL).collect()
    assert got["n_docs"] == len(xs)
    assert abs(got["ci_lo"] - lo) < 2e-6
    assert abs(got["ci_hi"] - hi) < 2e-6
    assert got["ci_lo"] <= got["mean_tokens"] <= got["ci_hi"]


def test_paired_bootstrap_matches_python_recompute(spark):
    """Paired replicate diffs replayed in Python must reproduce the
    CI and p_boot; the point diff must sit inside the CI."""
    rows = (
        spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
        .select("doc_id", "text", "lang", "n_chars")
        .collect()
    )
    dxs = []
    for r in rows:
        y = 1 if r["lang"] == "en" else 0
        pa = 1 if " the " in r["text"] else 0
        pb = 1 if r["n_chars"] >= 300 else 0
        dxs.append((r["doc_id"], (1 if pa == y else 0) - (1 if pb == y else 0)))
    diffs = []
    for b in range(200):
        sw = swd = 0
        for doc_id, dx in dxs:
            w = _pois_w(doc_id, b)
            sw += w
            swd += w * dx
        diffs.append((swd / sw, b))
    diffs.sort()
    lo, hi = diffs[4][0], diffs[195][0]
    p_boot = sum(1 for d, _ in diffs if d <= 0) / 200
    [got] = all_queries()["l_eval_paired_bootstrap"](
        spark, SF_DIR_SMALL
    ).collect()
    assert abs(got["ci_lo"] - lo) < 2e-6
    assert abs(got["ci_hi"] - hi) < 2e-6
    assert abs(got["p_boot"] - p_boot) < 2e-6
    assert got["ci_lo"] <= got["acc_diff"] <= got["ci_hi"]


def test_chrf_matches_python_counter_recompute(spark):
    """chrF2 recomputed from raw char-6-gram Counters must match every
    pair row; chrf2 must sit in [0, 1]."""
    from collections import Counter, defaultdict

    rows = _docs(spark)
    sides: dict = defaultdict(dict)
    for r in rows:
        s = r["text"].replace(" ", "")
        grams = Counter(s[i : i + 6] for i in range(len(s) - 5))
        sides[r["doc_id"] // 2][r["doc_id"] % 2] = grams
    got = all_queries()["l_eval_chrf"](spark, SF_DIR_SMALL).collect()
    assert len(got) == len(sides)
    for r in got:
        c = sides[r["pair_id"]].get(0, Counter())
        f = sides[r["pair_id"]].get(1, Counter())
        ov = sum(min(c[g], f[g]) for g in c.keys() & f.keys())
        assert r["tc"] == sum(c.values())
        assert r["tr"] == sum(f.values())
        assert r["ov"] == ov
        if ov:
            expect = 5 * ov * ov / (4 * ov * r["tr"] + ov * r["tc"])
            assert abs(r["chrf2"] - expect) < 2e-6
        else:
            assert r["chrf2"] == 0.0
        assert 0.0 <= r["chrf2"] <= 1.0


def test_source_overlap_matches_python_recompute(spark):
    """Shared-shingle counts and jaccard recomputed from Python sets
    must match the emitted top pairs."""
    from collections import defaultdict

    rows = (
        spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
        .select("text", "source")
        .collect()
    )
    per_src: dict = defaultdict(set)
    for r in rows:
        w = r["text"].split(" ")
        for i in range(len(w) - 9):
            per_src[r["source"]].add(
                hashlib.md5(" ".join(w[i : i + 10]).encode()).hexdigest()
            )
    expect = []
    srcs = sorted(per_src)
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1 :]:
            shared = len(per_src[sa] & per_src[sb])
            if shared:
                expect.append(
                    (
                        shared,
                        sa,
                        sb,
                        len(per_src[sa]),
                        len(per_src[sb]),
                    )
                )
    expect.sort(key=lambda t: (-t[0], t[1], t[2]))
    got = all_queries()["l_dedup_source_overlap"](
        spark, SF_DIR_SMALL
    ).collect()
    assert len(got) == min(len(expect), 50)
    for r, (shared, sa, sb, na, nb) in zip(got, expect):
        assert (r["source_a"], r["source_b"]) == (sa, sb)
        assert (r["n_shared"], r["n_a"], r["n_b"]) == (shared, na, nb)
        assert abs(r["jaccard"] - shared / (na + nb - shared)) < 2e-6


def test_parquet_bloom_pages_written(spark, tmp_path):
    """a_sink_parquet_bloom depends on the all-column writer option
    actually producing bloom pages (the per-column '#col' form
    silently no-ops in this build). Pin the behavior: the bloom write
    must be materially larger than a plain write of the same data."""
    from sqlengine_spark.session import table

    o = table(spark, SF_DIR_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    o.write.parquet(str(tmp_path / "off"))
    (
        o.write.option("parquet.bloom.filter.enabled", "true")
        .option("parquet.bloom.filter.expected.ndv", "20000")
        .parquet(str(tmp_path / "on"))
    )

    def sz(d):
        return sum(f.stat().st_size for f in (tmp_path / d).glob("*.parquet"))

    off, on = sz("off"), sz("on")
    assert on > off * 1.5, (off, on)


def test_bloom_probe_scan_pushes_in_filter(spark):
    """The probe scan over the rewritten copy must push the IN filter
    into the parquet reader (bloom filters only help when the
    predicate reaches the scan)."""
    df = all_queries()["a_sink_parquet_bloom"](spark, SF_DIR_SMALL)
    plan = SQLEngine(spark=spark).explain(df)
    assert "PushedFilters" in plan and "In(o_custkey" in plan


def test_entropy_rate_matches_python_recompute(spark):
    """H(W2|W1) recomputed from raw Counters with math.log must match
    the emitted entropy; sanity bounds: 0 <= H <= log2(vocab)."""
    from collections import Counter

    rows = _docs(spark)
    bi: Counter = Counter()
    left: Counter = Counter()
    n = 0
    for r in rows:
        w = r["text"].split(" ")
        for a, b in zip(w, w[1:]):
            bi[(a, b)] += 1
            left[a] += 1
            n += 1
    h = (
        sum(c * math.log(left[w1] / c) for (w1, _), c in bi.items())
        / n
        / math.log(2)
    )
    [got] = all_queries()["l_ngram_entropy_rate"](
        spark, SF_DIR_SMALL
    ).collect()
    assert got["n_bigrams"] == n
    assert got["n_pairs"] == len(bi)
    assert got["n_contexts"] == len(left)
    assert abs(got["h_bits"] - h) < 1e-6
    assert 0.0 <= got["h_bits"] <= math.log2(len(left) + 1) + 1


def test_stream_quality_gate_matches_batch_recompute(spark):
    """The streaming gate's final state must equal a plain Python
    recompute over the same events — and the stream must actually run
    incrementally (the op stages multiple files; this asserts the
    harness contract rather than trusting complete-mode magic)."""
    from collections import defaultdict

    from sqlengine_spark.session import table

    rows = (
        table(spark, SF_DIR_SMALL, "events")
        .select("event_type", "value")
        .collect()
    )
    agg: dict = defaultdict(lambda: [0, 0])
    for r in rows:
        a = agg[r["event_type"]]
        a[0] += 1
        if 0 <= r["value"] <= 400 and r["event_type"] != "error":
            a[1] += 1
    got = all_queries()["j_stream_quality_gate"](spark, SF_DIR_SMALL).collect()
    assert len(got) == len(agg)
    for r in got:
        n, p = agg[r["event_type"]]
        assert (r["n_total"], r["n_pass"]) == (n, p)
        assert abs(r["pass_rate"] - p / n) < 2e-6
