"""Round-13 operator invariants beyond the registry-wide oracle
compare: independent Python recomputes that would catch a wrong
formula or a wrong state machine even if both engines shared the same
mistake."""

from __future__ import annotations

from collections import Counter

import pytest

from sqlengine_spark.registry import all_queries
from tests.conftest import SF_DIR_SMALL


@pytest.fixture(scope="module")
def session_timeout_rows(spark):
    """One collected sf0.001 j_stream_session_timeout run, shared: the
    stream costs tens of seconds per run."""
    return all_queries()["j_stream_session_timeout"](spark, SF_DIR_SMALL).collect()


def test_session_timeout_matches_python_sessionization(spark, session_timeout_rows):
    """The streaming session set (in-band closes + timer-fired trailing
    flushes) must equal a driver-side Python sessionization of the raw
    events — start/end/count per session, exact microsecond
    timestamps. This checks the STATE MACHINE (timer arming, stale
    guards, wave ordering), independently of the SQL oracle."""
    ev = (
        spark.read.parquet(f"{SF_DIR_SMALL}/events.parquet")
        .select("user_id", "ts")
        .collect()
    )
    per_user: dict = {}
    for r in ev:
        per_user.setdefault(r["user_id"], []).append(r["ts"])
    gap_us = 30 * 60 * 1_000_000
    expect = set()
    for uid, tss in per_user.items():
        tss.sort()
        start = last = tss[0]
        n = 1
        for t in tss[1:]:
            if (t - last).total_seconds() * 1e6 >= gap_us:
                expect.add((uid, start, last, n))
                start = last = t
                n = 1
            else:
                last = t
                n += 1
        expect.add((uid, start, last, n))
    got = {
        (r["user_id"], r["s_start"], r["s_end"], r["n_events"])
        for r in session_timeout_rows
    }
    assert got == expect


def test_session_timeout_sessions_are_maximal(session_timeout_rows):
    """No two emitted sessions of one user may be mergeable: for every
    consecutive session pair, next.start - prev.end >= 30 min (i.e. the
    timeout actually separated them)."""
    per_user: dict = {}
    for r in session_timeout_rows:
        per_user.setdefault(r["user_id"], []).append(
            (r["s_start"], r["s_end"])
        )
    for uid, sess in per_user.items():
        sess.sort()
        for (_, e1), (s2, _) in zip(sess, sess[1:]):
            assert (s2 - e1).total_seconds() >= 30 * 60, uid


def _pois_w(pair_id: int, b: int) -> int:
    import hashlib

    cuts = ("5e2d", "bc5a", "eb71", "fb23", "ff10", "ffd9")
    h = hashlib.md5(f"{pair_id}_{b}".encode()).hexdigest()[:4]
    for k, c in enumerate(cuts):
        if h < c:
            return k
    return 6


def test_eval_report_matches_python_recompute(spark):
    """Full independent recompute of the one-row report: per-pair
    chrF2 / token-F1 / length-ratio from raw text, fixed-point
    quantization, Poisson replicate means from hashlib md5 draws, and
    the order-statistic CI picks."""
    docs = (
        spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    pairs: dict = {}
    for r in docs:
        pairs.setdefault(r["doc_id"] // 2, {})[r["doc_id"] % 2] = r["text"]
    pp = {}
    for pid, sides in pairs.items():
        c = sides.get(0, "")
        ref = sides.get(1, "")
        sc, sr = c.replace(" ", ""), ref.replace(" ", "")
        gc = Counter(sc[i : i + 6] for i in range(len(sc) - 5))
        gr = Counter(sr[i : i + 6] for i in range(len(sr) - 5))
        ov = sum(min(gc[g], gr[g]) for g in gc)
        tc, tr = sum(gc.values()), sum(gr.values())
        chrf = 0.0 if ov == 0 else (5 * ov * ov) / (4 * ov * tr + ov * tc)
        wc = Counter(c.split(" ")) if c else Counter()
        wr = Counter(ref.split(" ")) if ref else Counter()
        ov_t = sum(min(wc[w], wr[w]) for w in wc)
        tc_t, tr_t = sum(wc.values()), sum(wr.values())
        f1 = 0.0 if ov_t == 0 else (2 * ov_t) / (tc_t + tr_t)
        lr = tr_t / tc_t
        pp[pid] = (
            round(chrf * 1e6),
            round(f1 * 1e6),
            round(lr * 1e6),
        )
    n = len(pp)
    B = 200
    reps = []
    for b in range(B):
        sw = swc = 0
        for pid, (cf, _, _) in pp.items():
            w = _pois_w(pid, b)
            sw += w
            swc += w * cf
        reps.append((swc / sw / 1e6 if sw else None, b))
    reps.sort(key=lambda t: (t[0], t[1]))
    lo, hi = reps[B // 40 - 1][0], reps[B - B // 40][0]
    [row] = all_queries()["l_eval_report"](spark, SF_DIR_SMALL).collect()
    assert row["n_pairs"] == n
    assert row["n_replicates"] == B
    assert row["mean_chrf2"] == round(
        sum(v[0] for v in pp.values()) / 1e6 / n, 6
    )
    assert row["chrf2_ci_lo"] == round(lo, 6)
    assert row["chrf2_ci_hi"] == round(hi, 6)
    assert row["mean_tok_f1"] == round(
        sum(v[1] for v in pp.values()) / 1e6 / n, 6
    )
    assert row["mean_len_ratio"] == round(
        sum(v[2] for v in pp.values()) / 1e6 / n, 6
    )


def test_oov_rate_matches_python_recompute(spark):
    docs = (
        spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
        .select("doc_id", "text", "lang")
        .collect()
    )
    train_vocab = set()
    for r in docs:
        if r["doc_id"] % 2 == 0:
            train_vocab.update(r["text"].split(" "))
    per_lang: dict = {}
    for r in docs:
        if r["doc_id"] % 2 == 1:
            st = per_lang.setdefault(
                r["lang"], {"n": 0, "oov": 0, "types": set(), "oov_types": set()}
            )
            for w in r["text"].split(" "):
                st["n"] += 1
                st["types"].add(w)
                if w not in train_vocab:
                    st["oov"] += 1
                    st["oov_types"].add(w)
    got = {
        r["lang"]: (
            r["n_tokens"],
            r["n_oov"],
            r["oov_rate"],
            r["n_types"],
            r["n_oov_types"],
        )
        for r in all_queries()["l_tokens_oov_rate"](
            spark, SF_DIR_SMALL
        ).collect()
    }
    assert set(got) == set(per_lang)
    for lang, st in per_lang.items():
        assert got[lang] == (
            st["n"],
            st["oov"],
            round(st["oov"] / st["n"], 6),
            len(st["types"]),
            len(st["oov_types"]),
        )


def test_kn_perplexity_matches_python_recompute(spark):
    import math

    docs = (
        spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    bc: Counter = Counter()
    vb: Counter = Counter()
    for r in docs:
        ws = r["text"].split(" ")
        tgt = bc if r["doc_id"] % 2 == 0 else vb
        for a, b in zip(ws, ws[1:]):
            tgt[(a, b)] += 1
    c1: Counter = Counter()
    n1f: Counter = Counter()
    n1b: Counter = Counter()
    for (a, b), c in bc.items():
        c1[a] += c
        n1f[a] += 1
        n1b[b] += 1
    T = len(bc)
    n_total = sum(vb.values())
    n_scored = sq = 0
    for (a, b), cnt in vb.items():
        if a not in c1 or b not in n1b:
            continue
        p = (max(bc.get((a, b), 0) - 0.75, 0.0) + 0.75 * n1f[a] * n1b[b] / T) / c1[a]
        sq += cnt * math.floor(math.log(p) * 1e9 + 0.5)
        n_scored += cnt
    ce = -sq / 1e9 / n_scored / math.log(2)
    [row] = all_queries()["l_lm_kn_perplexity"](spark, SF_DIR_SMALL).collect()
    assert row["n_bigrams"] == n_total
    assert row["n_scored"] == n_scored
    assert row["skip_rate"] == round((n_total - n_scored) / n_total, 6)
    assert row["ce_bits"] == round(ce, 6)
    assert row["ppl"] == round(2.0**ce, 6)
    # a held-out KN bigram perplexity must beat the unigram ceiling and
    # exceed 1 (sanity bounds, not exact values)
    assert 1.0 < row["ppl"]


def test_centroid_outliers_matches_numpy_recompute(spark):
    import numpy as np

    emb = (
        spark.read.parquet(f"{SF_DIR_SMALL}/embeddings.parquet")
        .select("vec_id", "label", "embedding")
        .collect()
    )
    per_label: dict = {}
    for r in emb:
        vq = np.round(np.array(r["embedding"], dtype=np.float64) * 1e6).astype(
            np.int64
        )
        per_label.setdefault(r["label"], []).append((r["vec_id"], vq))
    expect = []
    for label in sorted(per_label):
        members = per_label[label]
        # mean-quantized centroid on the 1e6 grid (r13 advice overflow
        # fix): floor(sum/count + 0.5) — member-count-independent bounds
        cs = np.floor(
            np.sum([v for _, v in members], axis=0) / len(members) + 0.5
        ).astype(np.int64)
        c2 = float(np.dot(cs, cs))
        scored = []
        for vid, vq in members:
            v2 = float(np.dot(vq, vq))
            denom = math_sqrt(v2 * c2)
            cos = float(np.dot(vq, cs)) / denom if denom else None
            scored.append((cos, vid))
        scored.sort(key=lambda t: (t[0], t[1]))
        for rk, (cos, vid) in enumerate(scored[:5], 1):
            expect.append((label, rk, vid, round(cos, 6)))
    got = [
        (r["label"], r["rk"], r["vec_id"], r["cos_centroid"])
        for r in all_queries()["l_embed_centroid_outliers"](
            spark, SF_DIR_SMALL
        ).collect()
    ]
    assert got == expect


def math_sqrt(x: float) -> float:
    import math

    return math.sqrt(x)


def test_langid_confusion_matches_python_recompute(spark):
    """Recompute the per-class table from l_text_langid's own output
    (which has its own oracle + recompute lineage) and the labels;
    check P/R/F1 algebra, the fixed-point macro mean, and that micro
    accuracy equals sum(correct)/sum(true)."""
    preds = {
        r["doc_id"]: r["pred_lang"]
        for r in all_queries()["l_text_langid"](spark, SF_DIR_SMALL).collect()
    }
    docs = (
        spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
        .select("doc_id", "lang")
        .collect()
    )
    langs = sorted({r["lang"] for r in docs})
    n_true = Counter()
    n_pred = Counter()
    n_corr = Counter()
    for r in docs:
        t, p = r["lang"], preds[r["doc_id"]]
        n_true[t] += 1
        n_pred[p] += 1
        if t == p:
            n_corr[t] += 1
    rows = all_queries()["l_langid_confusion"](spark, SF_DIR_SMALL).collect()
    by_lang = {r["lang"]: r for r in rows}
    assert set(by_lang) == set(langs) | {"~macro"}
    f1s = []
    for lang in langs:
        r = by_lang[lang]
        assert (r["n_true"], r["n_pred"], r["n_correct"]) == (
            n_true[lang],
            n_pred[lang],
            n_corr[lang],
        )
        p = n_corr[lang] / n_pred[lang] if n_pred[lang] else 0.0
        rc = n_corr[lang] / n_true[lang] if n_true[lang] else 0.0
        f1_fp = (
            round(2 * n_corr[lang] / (n_pred[lang] + n_true[lang]) * 1e6)
            if n_corr[lang]
            else 0
        )
        assert r["precision_"] == round(p, 6)
        assert r["recall_"] == round(rc, 6)
        assert r["f1"] == f1_fp / 1e6
        f1s.append(f1_fp)
    m = by_lang["~macro"]
    total_true = sum(n_true.values())
    total_corr = sum(n_corr.values())
    assert m["n_true"] == total_true == len(docs)
    assert m["n_pred"] == total_true  # every doc predicted exactly once
    assert m["precision_"] == m["recall_"] == round(total_corr / total_true, 6)
    assert m["f1"] == round(sum(f1s) / len(f1s)) / 1e6


def test_heaps_fit_matches_python_recompute(spark):
    import math

    docs = (
        spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    mx = max(r["doc_id"] for r in docs)
    mn = min(r["doc_id"] for r in docs)
    ths = [
        mn + math.ceil((mx - mn + 1) / 2 ** (4 - k)) - 1 for k in range(5)
    ]
    first_seen: dict = {}
    n_tok: dict = {}
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        ws = r["text"].split(" ")
        n_tok[r["doc_id"]] = len(ws)
        for w in ws:
            first_seen.setdefault(w, r["doc_id"])
    pts = []
    for t in ths:
        n = sum(v for d, v in n_tok.items() if d <= t)
        v = sum(1 for fd in first_seen.values() if fd <= t)
        pts.append(
            (
                math.floor(math.log(n) * 1e6 + 0.5),
                math.floor(math.log(v) * 1e6 + 0.5),
                n,
                v,
            )
        )
    m = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    slope = (m * sxy - sx * sy) / (m * sxx - sx * sx)
    k_coef = math.exp((sy - slope * sx) / m / 1e6)
    [row] = all_queries()["l_heaps_law_fit"](spark, SF_DIR_SMALL).collect()
    assert row["n_checkpoints"] == m
    assert row["n_tokens"] == pts[-1][2]
    assert row["vocab"] == pts[-1][3]
    assert row["beta"] == round(slope, 6)
    assert row["k_coef"] == round(k_coef, 4)
    # Heaps exponent sanity: sublinear (beta <= 1); the sf0.001 fixture's
    # ~31-token degenerate vocabulary saturates by the FIRST checkpoint,
    # so beta is exactly 0.0 here — a fixture artifact (the same reason
    # langid accuracy sits at chance), not an operator property
    assert 0.0 <= row["beta"] <= 1.0


def test_delete_cascade_matches_python_recompute(spark):
    import hashlib

    cust = spark.read.parquet(f"{SF_DIR_SMALL}/customer.parquet").select(
        "c_custkey"
    ).collect()
    orders = spark.read.parquet(f"{SF_DIR_SMALL}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    ).collect()
    li = spark.read.parquet(f"{SF_DIR_SMALL}/lineitem.parquet").select(
        "l_orderkey"
    ).collect()
    del_cust = {
        r["c_custkey"]
        for r in cust
        if hashlib.md5(str(r["c_custkey"]).encode()).hexdigest()[0] == "0"
    }
    del_ord = {r["o_orderkey"] for r in orders if r["o_custkey"] in del_cust}
    n_del_li = sum(1 for r in li if r["l_orderkey"] in del_ord)
    rows = {
        r["entity"]: r
        for r in all_queries()["n_delete_cascade"](
            spark, SF_DIR_SMALL
        ).collect()
    }
    assert rows["customer"]["n_deleted"] == len(del_cust)
    assert rows["orders"]["n_deleted"] == len(del_ord)
    assert rows["lineitem"]["n_deleted"] == n_del_li
    for e in ("customer", "orders", "lineitem"):
        r = rows[e]
        assert r["n_before"] == r["n_deleted"] + r["n_after"]
        assert r["n_orphans"] == 0


def test_distinct_ngram_diversity_matches_python_recompute(spark):
    docs = (
        spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
        .select("source", "text")
        .collect()
    )
    stats: dict = {}
    for r in docs:
        ws = r["text"].split(" ")
        for n in (1, 2, 3):
            key = (r["source"], n)
            tot, seen = stats.setdefault(key, [0, set()])
            for i in range(len(ws) - n + 1):
                stats[key][0] += 1
                seen.add(" ".join(ws[i : i + n]))
    got = {
        (r["source"], r["n"]): (
            r["n_grams"],
            r["n_distinct"],
            r["distinct_ratio"],
        )
        for r in all_queries()["l_distinct_ngram_diversity"](
            spark, SF_DIR_SMALL
        ).collect()
    }
    assert set(got) == set(stats)
    for key, (tot, seen) in stats.items():
        assert got[key] == (tot, len(seen), round(len(seen) / tot, 6))
