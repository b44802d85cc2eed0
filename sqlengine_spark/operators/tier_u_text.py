"""Tier U — corpus text statistics: collocations (LLR), n-gram
coverage, distinct-n diversity and entropy rate, Heaps'-law vocabulary
growth, readability, held-out OOV rate and Kneser-Ney perplexity, RAG
chunk overlap and prefix-cache block reuse — the measurements a
training-data pipeline takes of its text before and after curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sqlengine_spark.functions import dround
from sqlengine_spark.registry import query
from sqlengine_spark.session import scatter, table


@query(
    "l_ngram_assoc_llr",
    oracle="""
    WITH w AS (
        SELECT string_split(text, ' ') AS w FROM documents
    ), g AS (
        SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                     i -> w[i])) AS w1,
               unnest(list_transform(generate_series(1, len(w) - 1),
                                     i -> w[i + 1])) AS w2
        FROM w WHERE len(w) >= 2
    ), bc AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS k11
        FROM g GROUP BY w1, w2
    ), lm AS (
        SELECT w1, CAST(COUNT(*) AS BIGINT) AS r FROM g GROUP BY w1
    ), rm AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS c FROM g GROUP BY w2
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g
    ), m AS (
        SELECT bc.w1, bc.w2, bc.k11, lm.r, rm.c, nn.n,
               lm.r - bc.k11 AS k12,
               rm.c - bc.k11 AS k21,
               nn.n - lm.r - rm.c + bc.k11 AS k22
        FROM bc JOIN lm ON lm.w1 = bc.w1
                JOIN rm ON rm.w2 = bc.w2
                CROSS JOIN nn
        WHERE bc.k11 >= 5
    ), s AS (
        SELECT w1, w2, k11, r, c,
               2.0 * (
                 (CASE WHEN k11 = 0 THEN 0.0
                       ELSE CAST(k11 AS DOUBLE) * ln(CAST(k11 AS DOUBLE)) END)
               + (CASE WHEN k12 = 0 THEN 0.0
                       ELSE CAST(k12 AS DOUBLE) * ln(CAST(k12 AS DOUBLE)) END)
               + (CASE WHEN k21 = 0 THEN 0.0
                       ELSE CAST(k21 AS DOUBLE) * ln(CAST(k21 AS DOUBLE)) END)
               + (CASE WHEN k22 = 0 THEN 0.0
                       ELSE CAST(k22 AS DOUBLE) * ln(CAST(k22 AS DOUBLE)) END)
               + CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE))
               - CAST(r AS DOUBLE) * ln(CAST(r AS DOUBLE))
               - (CASE WHEN n - r = 0 THEN 0.0
                       ELSE CAST(n - r AS DOUBLE) * ln(CAST(n - r AS DOUBLE)) END)
               - CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
               - (CASE WHEN n - c = 0 THEN 0.0
                       ELSE CAST(n - c AS DOUBLE) * ln(CAST(n - c AS DOUBLE)) END)
               ) AS llr
        FROM m
    )
    SELECT w1, w2, k11 AS n_pair,
           CAST(FLOOR(llr * 1e6 + 0.5) AS BIGINT) / 1e6 + 0 AS llr
    FROM s
    ORDER BY CAST(FLOOR(llr * 1e6 + 0.5) AS BIGINT) DESC, w1, w2
    LIMIT 50
    """,
)
def l_ngram_assoc_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION MINING by log-likelihood ratio (Dunning 1993,
    "Accurate Methods for the Statistics of Surprise and Coincidence";
    public method): for every adjacent word pair, the G² statistic of
    its 2x2 contingency table (bigram count vs marginal word counts
    over all bigram events), top-50. LLR is THE collocation test that
    stays calibrated for rare words where PMI explodes — the phrase
    inventory a tokenizer/vocab pipeline mines before merging
    multi-word units. Complements l_topic_cooccur (doc-level PMI) and
    l_text_lm_score (per-doc bigram LM score).

    Determinism: all nine x·ln(x) terms come from exact BIGINT counts
    (a 0-count term is pinned to 0 in both engines); the sum is ONE
    fixed-shape per-row expression (no float aggregation anywhere —
    rule 9 does not apply), ln is the same libm call both engines (the
    l_dsir_weight precedent), and the rank key is half-up 1e6 fixed
    point with the (w1, w2) tiebreak — a total order (rule 5). LLR is
    non-negative, '+ 0' guards the quantized output anyway.

    Scale: one map-side bigram transform (size>=2 guarded, rule 11d)
    feeding three hash aggs — (w1,w2) pair counts, w1 marginals, w2
    marginals — all partial+final; the marginal tables are
    vocab-sized and joined PLAIN (AQE broadcasts them only when
    actually small — the r11 df-table rule), the 1-row N broadcasts,
    and the top-50 is TakeOrdered. The k11 >= 5 support filter prunes
    the pair tail before the joins, exactly like m_basket_affinity."""
    # r12 scatter: single-split fixture scans serialize the
    # map stage on one core (see session.scatter; no-op at scale)
    d = scatter(spark, table(spark, sf_dir, "documents"))
    # zip_with over slices of a LET-BOUND token array: transform over a
    # 1-element array binds split(text) to the lambda variable w, so
    # the tokenize runs EXACTLY once per row — the old form spelled
    # split(text) four times and paid ~4x tokenize per doc (paired at
    # x100: 2.365 -> 1.995 s median, 7/7 wins; sf0.1 0.522 -> 0.435 —
    # the r11 verdict's double-tokenize chip, closed without a
    # localCheckpoint/lineage cut). An INDEX lambda that re-references
    # split(text)[i] would still be the rule-14c O(L²) defect
    # (measured 32 s vs 2.4 s at x100); the variable binding is what
    # makes multi-reference free.
    grams = d.select(
        F.explode(
            F.expr(
                "element_at(transform(array(split(text, ' ')), w ->"
                " CASE WHEN size(w) >= 2 THEN"
                " zip_with(slice(w, 1, size(w) - 1),"
                "          slice(w, 2, size(w) - 1),"
                "          (x, y) -> struct(x AS w1, y AS w2))"
                " ELSE CAST(array() AS ARRAY<STRUCT<w1:STRING, w2:STRING>>)"
                " END), 1)"
            )
        ).alias("g")
    ).select("g.w1", "g.w2")
    # ONE corpus-scale shuffle: count pairs once, then derive both
    # marginals and N from the pair-count table (vocab²-bounded, far
    # smaller than the gram stream) — counting marginals off the raw
    # grams would shuffle the corpus three times. On the degenerate
    # fixture vocab the gain is small (x100: 3.15 → 2.98 s; the
    # map-side gram scan is 2.0 s of that and the pair table is 931
    # rows), but at open vocabulary the 3-shuffle plan moves the whole
    # corpus three times. Struct grams beat concat-string grams
    # (scan 2.00 vs 2.38 s at x100 — measured, pin 13b).
    # localCheckpoint: four consumers, one materialization (rule 11a).
    bc_all = (
        grams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("k11"))
        .localCheckpoint()
    )
    bc = bc_all.filter(F.col("k11") >= 5)
    lm = bc_all.groupBy("w1").agg(F.sum("k11").alias("r"))
    rm = bc_all.groupBy("w2").agg(F.sum("k11").alias("c"))
    nn = bc_all.agg(F.sum("k11").alias("n"))
    m = (
        bc.join(lm, "w1")
        .join(rm, "w2")
        .crossJoin(F.broadcast(nn))
        .withColumn("k12", F.col("r") - F.col("k11"))
        .withColumn("k21", F.col("c") - F.col("k11"))
        .withColumn(
            "k22", F.col("n") - F.col("r") - F.col("c") + F.col("k11")
        )
    )

    def xlx(col):
        cd = col.cast("double")
        return F.when(col == 0, F.lit(0.0)).otherwise(cd * F.log(cd))

    llr = 2.0 * (
        xlx(F.col("k11"))
        + xlx(F.col("k12"))
        + xlx(F.col("k21"))
        + xlx(F.col("k22"))
        + xlx(F.col("n"))
        - xlx(F.col("r"))
        - xlx(F.col("n") - F.col("r"))
        - xlx(F.col("c"))
        - xlx(F.col("n") - F.col("c"))
    )
    fp = F.floor(llr * 1e6 + 0.5).cast("bigint")
    return (
        m.select(
            "w1",
            "w2",
            F.col("k11").alias("n_pair"),
            (fp / F.lit(1e6) + F.lit(0.0)).alias("llr"),
            fp.alias("fp"),
        )
        .orderBy(F.col("fp").desc(), "w1", "w2")
        .limit(50)
        .drop("fp")
    )


@query(
    "l_ngram_coverage_curve",
    oracle="""
    WITH c AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY t
    ), r AS MATERIALIZED (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rn FROM c
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_vocab
        FROM c
    ), ks AS (
        SELECT unnest([10, 100, 1000]) AS k
    )
    SELECT ks.k AS k,
           CAST(COALESCE((SELECT SUM(r.c) FROM r WHERE r.rn <= ks.k), 0)
                AS BIGINT) AS covered,
           tot.total, tot.n_vocab,
           ROUND(CAST(COALESCE((SELECT SUM(r.c) FROM r WHERE r.rn <= ks.k),
                               0) AS DOUBLE)
                 / CAST(tot.total AS DOUBLE) * 1e9) / 1e9 + 0 AS coverage
    FROM ks CROSS JOIN tot
    ORDER BY ks.k
    """,
)
def l_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VOCABULARY COVERAGE CURVE — what fraction of all token
    OCCURRENCES the top-k most frequent types cover, at k = 10, 100,
    1000 (the table a tokenizer-budget decision reads: where the
    Zipf mass saturates; complements l_tokens_zipf_fit's slope with
    the operational cumulative view).

    Determinism: counts are exact BIGINTs; top-k membership uses the
    total order (count desc, token asc); coverage is one int-ratio
    division on the 1e9 grid with '+ 0'.

    Scale: NO global window — each k's covered mass is a TakeOrdered
    top-k over the vocab-sized count table followed by a 1-row sum
    (three tiny jobs), so nothing sorts the vocabulary on one reducer;
    the token count itself is one partial+final hash agg over the
    corpus. The oracle states the same truth via DuckDB's ordered-
    LIMIT rowid subquery."""
    d = table(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()  # rule 11a: 3 TakeOrdered heads + the total
    )
    tot = c.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n_vocab")
    )
    rows = None
    for k in (10, 100, 1000):
        topk = (
            c.orderBy(F.col("c").desc(), "t")
            .limit(k)
            .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("covered"))
            .select(F.lit(k).alias("k"), "covered")
        )
        rows = topk if rows is None else rows.unionAll(topk)
    return (
        rows.crossJoin(F.broadcast(tot))
        .select(
            "k",
            F.col("covered").cast("bigint").alias("covered"),
            "total",
            "n_vocab",
            dround(
                F.col("covered").cast("double") / F.col("total").cast("double"),
                9,
            ).alias("coverage"),
        )
        .orderBy("k")
    )


@query(
    "l_rag_chunk_overlap",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), c AS (
        SELECT doc_id, len(w) AS n_tok,
               unnest(generate_series(
                   0,
                   CASE WHEN len(w) <= 64 THEN 0
                        ELSE CAST(CEIL((len(w) - 64) / 48.0) AS BIGINT) END
               )) AS chunk_id,
               w
        FROM w
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(1 + chunk_id * 48 AS BIGINT) AS start_tok,
           CAST(LEAST(chunk_id * 48 + 64, n_tok) - chunk_id * 48
                AS BIGINT) AS chunk_len,
           CAST(CASE WHEN chunk_id = 0 THEN 0
                ELSE (chunk_id - 1) * 48 + 64 - chunk_id * 48 END
                AS BIGINT) AS overlap_prev,
           md5(array_to_string(
               w[1 + chunk_id * 48 : LEAST(chunk_id * 48 + 64, n_tok)],
               ' ')) AS chunk_md5
    FROM c
    """,
)
def l_rag_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG SLIDING-WINDOW CHUNKING (window 64 tokens, stride 48 ⇒ 16
    tokens of overlap) — the ingest transform every retrieval pipeline
    runs before embedding: split each document into overlapping
    token-window chunks, emitting per chunk its start offset, length,
    overlap with the previous chunk, and an md5 content fingerprint
    (the key a downstream chunk-level dedup / embedding cache joins
    on). Chunk count per doc = ceil(max(L-64,0)/48)+1, so every doc
    (even shorter than one window) yields ≥ 1 chunk and the final
    chunk is the only short one — the LangChain/LlamaIndex fixed-size
    splitter semantics (public method).

    Determinism: chunk boundaries are pure integer arithmetic on the
    token count; the fingerprint is md5 over the space-joined token
    slice — Spark's slice(w, start, len) and DuckDB's w[a:b] produce
    the identical token run (both 1-based inclusive here), md5 is
    bit-identical.

    Scale: ZERO shuffles — one map-side explode per document (fan-out
    = L/48, bounded by doc length), no aggregation, no join. Honest
    map-work bound (r11 code review): the slice's split() sits inside
    the transform lambda, so per-doc work is O(L²/48) token copies
    (pin 14c class) — for typical ≤4k-token web documents that is a
    bounded ~85× constant over the scan and still beats the
    single-process engine at x100 (0.60×, BASELINE.md); a
    long-document corpus (100k+ tokens) should instead take the
    linear-shuffle variant (posexplode tokens → ≤2 chunk memberships
    each → (doc, chunk) groupBy reassembly), documented here rather
    than built because every measured corpus class is short-doc.
    Chunk-level dedup/embedding joins downstream key on chunk_md5,
    which shards uniformly. The WHOLE chunk row (offsets + md5) is
    computed INSIDE the one generator expression — projecting the
    token array alongside the explode would ADDITIONALLY re-run
    split() per chunk row (rule 12a)."""
    d = table(spark, sf_dir, "documents")
    chunks = F.expr(
        """
        transform(
          sequence(0,
            CASE WHEN size(split(text, ' ')) <= 64 THEN 0
                 ELSE CAST(CEIL((size(split(text, ' ')) - 64) / 48.0)
                      AS INT) END),
          i -> struct(
            CAST(i AS BIGINT) AS chunk_id,
            CAST(1 + i * 48 AS BIGINT) AS start_tok,
            CAST(LEAST(i * 48 + 64, size(split(text, ' '))) - i * 48
                 AS BIGINT) AS chunk_len,
            CAST(IF(i = 0, 0, 16) AS BIGINT) AS overlap_prev,
            md5(concat_ws(' ',
                slice(split(text, ' '), 1 + i * 48,
                      LEAST(i * 48 + 64, size(split(text, ' ')))
                      - i * 48))) AS chunk_md5))
        """
    )
    return d.select("doc_id", F.explode(chunks).alias("c")).select(
        "doc_id",
        "c.chunk_id",
        "c.start_tok",
        "c.chunk_len",
        "c.overlap_prev",
        "c.chunk_md5",
    )


@query(
    "l_text_readability",
    oracle="""
    WITH s AS (
        SELECT lang, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
               CAST(GREATEST(length(regexp_replace(
                     regexp_replace(text, '[.!?]+', '.', 'g'),
                     '[^.]', '', 'g')), 1) AS BIGINT) AS st,
               CAST(length(regexp_replace(
                     regexp_replace(lower(text), '[aeiouy]+', 'V', 'g'),
                     '[^V]', '', 'g')) AS BIGINT) AS sy
        FROM documents
    ), q AS (
        SELECT lang, source, w, st, sy,
               CAST(FLOOR((CAST(206.835 AS DOUBLE)
                           - CAST(1.015 AS DOUBLE)
                             * (CAST(w AS DOUBLE) / CAST(st AS DOUBLE))
                           - CAST(84.6 AS DOUBLE)
                             * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE)))
                          * 1e6 + 0.5) AS BIGINT) AS fq
        FROM s
    )
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_words,
           ROUND(CAST(SUM(w) AS DOUBLE) / CAST(SUM(st) AS DOUBLE)
                 * 1e6) / 1e6 + 0 AS words_per_sentence,
           ROUND(CAST(SUM(sy) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)
                 * 1e6) / 1e6 + 0 AS syllables_per_word,
           ROUND(CAST(SUM(fq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1e6
                 * 1e6) / 1e6 + 0 AS mean_flesch
    FROM q GROUP BY lang, source ORDER BY lang, source
    """,
)
def l_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH READING EASE per (lang, source) — the classic readability
    score (Flesch 1948; public method) from three exact integer counts
    per doc: words (whitespace tokens), sentences (maximal [.!?]+ runs,
    floored at 1), syllables (maximal vowel-group runs, the standard
    cheap approximation). A quality-gating pipeline reports this next
    to l_text_quality's ratio gates: too-low means OCR noise / token
    salad, too-high means boilerplate lists.

    Determinism: all three counts are exact integers from global
    regexp_replace (DuckDB side spells the 'g' flag — rule 6); the
    per-doc score is a fixed-shape double expression over exact
    integers, quantized half-up to a 1e6 BIGINT before the group mean
    (rule 11e: group sums are exact integer sums in both engines);
    the three output ratios are single divisions of exact integers,
    dround 1e-6. Constants are CAST(... AS DOUBLE) in SQL so DuckDB
    does not fold them as DECIMAL (the rule-12d literal class).

    Scale: pure map-side codegen (three regexp passes per doc) into a
    |lang x source|-ary hash agg — scan speed at any corpus size, no
    joins, no windows."""
    d = table(spark, sf_dir, "documents")
    w = F.size(F.split(F.col("text"), " ")).cast("bigint")
    st = F.greatest(
        F.length(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), "[.!?]+", "."), "[^.]", ""
            )
        ),
        F.lit(1),
    ).cast("bigint")
    sy = F.length(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[aeiouy]+", "V"),
            "[^V]",
            "",
        )
    ).cast("bigint")
    s = d.select("lang", "source", w.alias("w"), st.alias("st"), sy.alias("sy"))
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("w").cast("double") / F.col("st").cast("double"))
        - F.lit(84.6) * (F.col("sy").cast("double") / F.col("w").cast("double"))
    )
    q = s.withColumn("fq", F.floor(flesch * 1e6 + F.lit(0.5)).cast("bigint"))
    return (
        q.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("n_words"),
            F.sum("st").alias("sst"),
            F.sum("sy").alias("ssy"),
            F.sum("fq").alias("sfq"),
        )
        .select(
            "lang",
            "source",
            "n_docs",
            "n_words",
            dround(
                F.col("n_words").cast("double") / F.col("sst").cast("double"), 6
            ).alias("words_per_sentence"),
            dround(
                F.col("ssy").cast("double") / F.col("n_words").cast("double"), 6
            ).alias("syllables_per_word"),
            dround(
                F.col("sfq").cast("double") / F.col("n_docs").cast("double")
                / 1e6,
                6,
            ).alias("mean_flesch"),
        )
        .orderBy("lang", "source")
    )


@query(
    "l_ngram_entropy_rate",
    oracle="""
    WITH w AS (
        SELECT string_split(text, ' ') AS w FROM documents
    ), g AS (
        SELECT w[i.i] AS w1, w[i.i + 1] AS w2
        FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 1))
                         AS i) i
    ), bc AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM g GROUP BY w1, w2
    ), lm AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bc GROUP BY w1
    ), t AS (
        SELECT CAST(SUM(CAST(FLOOR(CAST(bc.c12 AS DOUBLE)
                                   * ln(CAST(lm.c1 AS DOUBLE)
                                        / CAST(bc.c12 AS DOUBLE))
                                   * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
               CAST(SUM(bc.c12) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM bc JOIN lm ON lm.w1 = bc.w1
    ), ctx AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_contexts FROM lm
    )
    SELECT t.n AS n_bigrams, t.n_pairs, ctx.n_contexts,
           ROUND(CAST(t.sq AS DOUBLE) / 1e9 / CAST(t.n AS DOUBLE)
                 / 0.6931471805599453 * 1e9) / 1e9 + 0 AS h_bits
    FROM t, ctx
    """,
)
def l_ngram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONDITIONAL BIGRAM ENTROPY RATE H(W₂|W₁) in bits — the classic
    corpus predictability / diversity number (Shannon 1951, "Prediction
    and entropy of printed English"; public method): the plug-in MLE
    H = Σ c₁₂·ln(c₁/c₁₂) / N / ln 2 over adjacent word pairs. Low
    entropy flags template/boilerplate-heavy corpora BEFORE training
    (complements l_text_entropy's per-doc unigram view and
    l_tokens_zipf_fit's frequency-shape view with a sequential-
    structure number).

    Determinism: counts are exact BIGINTs; each pair's c₁₂·ln(c₁/c₁₂)
    term (≥ 0) quantizes to a 1e9 fixed-point BIGINT BEFORE the sum
    (rule 11e — order-independent in both engines; ln is the same libm
    call, the l_dsir_weight precedent); ln 2 is an embedded literal so
    neither engine computes a transcendental of its own; one division
    chain spelled identically in both engines.

    Scale: ONE corpus-scale shuffle — the (w1, w2) pair count (grams
    generate via the codegen Generate-over-index form; no scatter —
    the fan-out partial-aggregates map-side into a vocab²-bounded hash
    table, pin 15b); the w1 marginals come from a full-partition WINDOW over the
    vocab²-bounded pair table (one w1-keyed shuffle + in-partition sort
    of pair rows, consumed once — r13 rewrite: the previous
    checkpoint + marginals-join + separate context-count made THREE
    passes over the pair table and an eager checkpoint job; paired x100
    A/B 0.85 → 0.76 s with bit-identical output, and strictly fewer
    pair-table passes at any scale). n_contexts rides the same final
    fold as count(distinct w1) — the Expand is over vocab²-bounded
    rows, partial-aggregated before the 1-row reduce."""
    # No scatter guard here (r13 paired toggle, x100 medians
    # 0.715 no-scatter vs 0.795 scatter): the bigram fan-out
    # partial-aggregates map-side into a vocab²-bounded hash table, so
    # the first real op is already a shuffle of thin rows (pin 15b) —
    # round-robining the corpus costs more than the one-core map saves.
    d = table(spark, sf_dir, "documents")
    g = (
        d.select(F.split(F.col("text"), " ").alias("w"))
        .select(
            "w",
            F.explode(
                F.expr(
                    "CASE WHEN size(w) >= 2 THEN sequence(1, size(w) - 1)"
                    " ELSE CAST(array() AS ARRAY<INT>) END"
                )
            ).alias("i"),
        )
        .select(
            F.expr("element_at(w, i)").alias("w1"),
            F.expr("element_at(w, i + 1)").alias("w2"),
        )
    )
    bc = g.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    b2 = bc.select(
        "w1", "c12", F.sum("c12").over(W.partitionBy("w1")).alias("c1")
    )
    term = F.floor(
        F.col("c12").cast("double")
        * F.log(F.col("c1").cast("double") / F.col("c12").cast("double"))
        * 1e9
        + 0.5
    ).cast("bigint")
    t = b2.agg(
        F.sum(term).alias("sq"),
        F.sum("c12").alias("n"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("w1").alias("n_contexts"),
    )
    return t.select(
        F.col("n").alias("n_bigrams"),
        "n_pairs",
        "n_contexts",
        dround(
            F.col("sq").cast("double")
            / 1e9
            / F.col("n").cast("double")
            / F.lit(0.6931471805599453),
            9,
        ).alias("h_bits"),
    )


_PCB_BLOCK = 16  # tokens per KV-cache block
_PCB_MAXB = 8    # audit the first 8 full blocks (128 tokens)


@query(
    "l_prefix_cache_blocks",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), g AS (
        SELECT doc_id,
               unnest(generate_series(1, LEAST(len(w) // {_PCB_BLOCK},
                                               {_PCB_MAXB}))) AS i,
               w
        FROM w WHERE len(w) >= {_PCB_BLOCK}
    ), k AS (
        SELECT doc_id, i - 1 AS bi,
               md5(array_to_string(w[1:{_PCB_BLOCK} * i], ' ')) AS key
        FROM g
    ), per_key AS (
        SELECT key, CAST(MAX(bi) AS BIGINT) AS bi,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM k GROUP BY key
    )
    SELECT bi AS block_idx,
           CAST(SUM(n) AS BIGINT) AS n_blocks,
           CAST(SUM(n - 1) AS BIGINT) AS n_reused,
           ROUND(CAST(SUM(n - 1) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                 * 1e6) / 1e6 + 0 AS reuse_rate
    FROM per_key GROUP BY bi ORDER BY bi
    """,
)
def l_prefix_cache_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-CACHE BLOCK REUSE audit — the vLLM/SGLang serving
    economics question ("how much KV cache would prefix caching save
    on this corpus?") asked of the training/eval prompt set: token
    prefixes are cut into 16-token blocks, each block keyed by the
    hash of the ENTIRE prefix up to it (the paged-attention block-hash
    convention — a block only reuses when everything before it
    matched), and a block instance is a cache HIT iff the same key
    occurred in any earlier doc (first occurrence = the one that pays
    the prefill). Output: per block position, total instances, reused
    instances, reuse rate — the curve that says how deep shared
    prefixes run (position 0 reuses most; the decay rate is the
    caching ROI).

    Determinism: keys are md5 over the literal prefix text — identical
    in both engines; a key determines its position (same prefix ⟹
    same token count), so reuse-per-position is an exact two-level
    integer aggregation with no tie-breaking anywhere.

    Scale: block keys are a map-side let-bound array expression (the
    rule-14c-safe form; ≤8 prefix hashes per doc, O(first-128-tokens)
    bytes each); ONE (key)-hash agg (partial+final — the exact-dedup
    shape) then an 8-ary rollup. No joins at all: reused = n − 1 per
    key, so the min-doc join-back the naive plan needs is algebraically
    eliminated. Shuffle volume = |distinct prefixes| rows, linear."""
    # r12 scatter: single-split fixture scans serialize the map
    # stage on one core (see session.scatter; no-op at scale)
    d = scatter(spark, table(spark, sf_dir, "documents"))
    keys = F.expr(
        f"element_at(transform(array(split(text, ' ')), w ->"
        f" CASE WHEN size(w) >= {_PCB_BLOCK} THEN"
        f"   transform(sequence(1, least(size(w) DIV {_PCB_BLOCK},"
        f"                               {_PCB_MAXB})),"
        f"     i -> struct(i - 1 AS bi,"
        f"                 md5(array_join(slice(w, 1, {_PCB_BLOCK} * i),"
        f"                                ' ')) AS key))"
        f" ELSE CAST(array() AS ARRAY<STRUCT<bi:INT, key:STRING>>)"
        f" END), 1)"
    )
    k = d.select(F.explode(keys).alias("b")).select("b.bi", "b.key")
    per_key = k.groupBy("key").agg(
        F.max("bi").cast("bigint").alias("bi"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        per_key.groupBy("bi")
        .agg(
            F.sum("n").alias("n_blocks"),
            F.sum(F.col("n") - 1).alias("n_reused"),
        )
        .select(
            F.col("bi").alias("block_idx"),
            "n_blocks",
            "n_reused",
            dround(
                F.col("n_reused").cast("double")
                / F.col("n_blocks").cast("double"),
                6,
            ).alias("reuse_rate"),
        )
        .orderBy("block_idx")
    )


@query(
    "l_tokens_oov_rate",
    oracle="""
    WITH toks AS (
        SELECT doc_id % 2 AS fold, lang, unnest(string_split(text, ' ')) AS w
        FROM documents
    ), train_vocab AS (
        SELECT DISTINCT w FROM toks WHERE fold = 0
    ), valid AS (
        SELECT lang, t.w,
               CASE WHEN tv.w IS NULL THEN 1 ELSE 0 END AS oov
        FROM toks t LEFT JOIN train_vocab tv ON t.w = tv.w
        WHERE t.fold = 1
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           ROUND(CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 * 1e6) / 1e6 + 0 AS oov_rate,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types,
           CAST(COUNT(DISTINCT CASE WHEN oov = 1 THEN w END) AS BIGINT)
               AS n_oov_types
    FROM valid GROUP BY lang ORDER BY lang
    """,
)
def l_tokens_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUT-OF-VOCABULARY AUDIT — token and type OOV rates of a held-out
    fold against the training fold's vocabulary, per language (folds by
    doc_id parity, the repo's deterministic split convention): the
    first number a tokenizer/LM owner checks before trusting any
    downstream perplexity, and the standard drift alarm when a new
    crawl snapshot lands (OOV spike = domain shift or encoding rot).
    Complements l_lm_kn_perplexity (which SKIPS oov bigrams and needs
    this rate alongside to be interpretable).

    Determinism: pure exact counting (vocab membership is an anti-join
    flag); one division per lang, dround 1e-6.

    Scale: token fan-out is a posexplode (codegen) consumed ONCE — a
    (w, fold, lang) hash agg compresses the stream to a vocab-bounded
    checkpointed table feeding both the train vocab and the valid
    side (r14; guide §2.4). The membership join is token-keyed and
    PLAIN (rule 14a — vocab is Heaps-law unbounded; AQE broadcasts at
    runtime only if actually small); per-lang rollup is
    domain-bounded, and the type counts are plain COUNT/SUM over the
    already-distinct (lang, w) rows — no Expand."""
    toks = table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("fold"),
        "lang",
        F.explode(F.split(F.col("text"), " ")).alias("w"),
    )
    # r14 single-pass type counting (guide §2.4): the token explode
    # used to run twice (train-vocab distinct + valid side). One
    # (w, fold, lang) hash agg compresses the corpus stream to a
    # vocab-bounded table; the train vocab and the valid per-type
    # counts both filter from its checkpoint. Per (lang, fold=1) the
    # rows ARE the distinct types, so n_types = COUNT(*) and
    # n_oov_types = SUM(oov) — the two-phase Expand count-distincts
    # disappear from the plan. Paired at sf0.1: 0.855 -> 0.716 s
    # median, new side won 5/5; output pandas-equal.
    wc = (
        toks.groupBy("w", "fold", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()  # rule 11a: two consumers
    )
    train_vocab = wc.filter(F.col("fold") == 0).select("w").distinct()
    valid = (
        wc.filter(F.col("fold") == 1)
        .join(
            train_vocab.withColumn("in_vocab", F.lit(1)),
            "w",
            "left",
        )
        .select(
            "lang",
            "cnt",
            F.when(F.col("in_vocab").isNull(), 1).otherwise(0).alias("oov"),
        )
    )
    return (
        valid.groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("oov") * F.col("cnt")).alias("n_oov"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum("oov").alias("n_oov_types"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            dround(
                F.col("n_oov").cast("double")
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
            "n_types",
            "n_oov_types",
        )
        .orderBy("lang")
    )


@query(
    "l_lm_kn_perplexity",
    oracle="""
    WITH w AS (
        SELECT doc_id % 2 AS fold, string_split(text, ' ') AS w
        FROM documents
    ), g AS (
        SELECT fold, w[i.i] AS w1, w[i.i + 1] AS w2
        FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 1))
                         AS i) i
    ), bc AS MATERIALIZED (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
        FROM g WHERE fold = 0 GROUP BY w1, w2
    ), lm1 AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS n1f
        FROM bc GROUP BY w1
    ), lm2 AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM bc GROUP BY w2
    ), tt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t FROM bc
    ), vb AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM g WHERE fold = 1 GROUP BY w1, w2
    ), scored AS (
        SELECT vb.cnt,
               CASE WHEN lm1.w1 IS NULL OR lm2.w2 IS NULL THEN NULL
                    ELSE CAST(FLOOR(ln(
                        (GREATEST(CAST(COALESCE(bc.c12, 0) AS DOUBLE) - 0.75,
                                  0.0)
                         + 0.75 * CAST(lm1.n1f AS DOUBLE)
                           * CAST(lm2.n1b AS DOUBLE) / CAST(tt.t AS DOUBLE))
                        / CAST(lm1.c1 AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
               END AS q
        FROM vb
        LEFT JOIN bc ON bc.w1 = vb.w1 AND bc.w2 = vb.w2
        LEFT JOIN lm1 ON lm1.w1 = vb.w1
        LEFT JOIN lm2 ON lm2.w2 = vb.w2
        CROSS JOIN tt
    ), agg AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE WHEN q IS NOT NULL THEN cnt ELSE 0 END)
                    AS BIGINT) AS n_scored,
               CAST(SUM(CASE WHEN q IS NOT NULL THEN cnt * q ELSE 0 END)
                    AS BIGINT) AS sq
        FROM scored
    )
    SELECT n_bigrams, n_scored,
           ROUND(CAST(n_bigrams - n_scored AS DOUBLE)
                 / CAST(n_bigrams AS DOUBLE) * 1e6) / 1e6 + 0 AS skip_rate,
           ROUND((0.0 - CAST(sq AS DOUBLE)) / 1e9 / CAST(n_scored AS DOUBLE)
                 / 0.6931471805599453 * 1e6) / 1e6 + 0 AS ce_bits,
           ROUND(POWER(2.0, (0.0 - CAST(sq AS DOUBLE)) / 1e9
                            / CAST(n_scored AS DOUBLE)
                            / 0.6931471805599453) * 1e6) / 1e6 + 0 AS ppl
    FROM agg
    """,
)
def l_lm_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT PERPLEXITY under an interpolated KNESER-NEY bigram LM
    (Kneser & Ney 1995; Chen & Goodman 1998's interpolated variant with
    fixed discount D=0.75; public method) — the statistical-LM quality
    number that CCNet-style corpus filters threshold on: train the LM
    on the even-doc fold, score the odd-doc fold,
    P(w2|w1) = max(c12-D,0)/c1 + D·N1+(w1,·)/c1 · N1+(·,w2)/T.
    Continuation counts (how many distinct contexts a word follows)
    are what make KN the right smoother for skewed corpus
    distributions — a word seen often in ONE collocation gets a small
    continuation probability. Bigrams whose context or continuation is
    unseen in training are SKIPPED and reported as skip_rate (read it
    next to l_tokens_oov_rate; a full system adds unigram backoff with
    an unknown-word class — one more join of the same shape).

    Determinism: every model statistic (c12, c1, N1+ fwd/back, T) is
    an exact BIGINT; P is ONE double expression spelled identically in
    both engines over those BIGINTs (identical operand order, embedded
    0.75/ln-2 literals), so ln(P) quantizes to the same 1e9
    fixed-point BIGINT per distinct valid bigram (rule 11e — the
    corpus fold is then an exact integer sum, immune to sum order);
    perplexity = pow(2, ce) on identical doubles.

    Scale: ONE corpus-scale shuffle (the (fold, w1, w2) pair counts —
    grams via the codegen Generate-over-index form; r14 folded the
    former separate train/valid passes into it); model marginals and
    the valid side derive from the vocab²-bounded checkpointed pair
    table (the entropy-rate lesson; rule 11a: four consumers). All model
    joins are vocab-keyed and PLAIN (rule 14a: vocab tables are
    Heaps-law unbounded; AQE broadcasts at runtime only when small);
    T is a 1-row broadcast. Valid-side scoring touches DISTINCT valid
    bigrams (vocab²-bounded), weighted by their counts."""
    w = table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("fold"),
        F.split(F.col("text"), " ").alias("w"),
    )
    g = w.select(
        "fold",
        "w",
        F.explode(
            F.expr(
                "CASE WHEN size(w) >= 2 THEN sequence(1, size(w) - 1)"
                " ELSE CAST(array() AS ARRAY<INT>) END"
            )
        ).alias("i"),
    ).select(
        "fold",
        F.expr("element_at(w, i)").alias("w1"),
        F.expr("element_at(w, i + 1)").alias("w2"),
    )
    # r14 single-pass fold counting (guide §2.4): train and valid pair
    # counts used to be two separate consumers of g — TWO corpus
    # explodes + two (w1,w2)-keyed shuffles per run. One
    # (fold, w1, w2) hash agg counts both folds in one pass; the
    # checkpoint stays vocab²-bounded (2x rows of the old bc) and both
    # sides filter from it with no re-aggregation (fold is in the
    # grouping key, so the filtered rows ARE the per-fold pair counts).
    # Paired at sf0.1: 0.762 -> 0.741 s median (within noise at
    # fixture; the saved explode+shuffle is corpus-sized at scale).
    pc = (
        g.groupBy("fold", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()  # rule 11a: four consumers (join, 2
        # marginals, valid side)
    )
    bc = pc.filter(F.col("fold") == 0).select(
        "w1", "w2", F.col("n").alias("c12")
    )
    lm1 = bc.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1f")
    )
    lm2 = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    tt = bc.agg(F.count(F.lit(1)).alias("t"))
    vb = pc.filter(F.col("fold") == 1).select(
        "w1", "w2", F.col("n").alias("cnt")
    )
    p = (
        F.greatest(
            F.coalesce(F.col("c12"), F.lit(0)).cast("double") - F.lit(0.75),
            F.lit(0.0),
        )
        + F.lit(0.75)
        * F.col("n1f").cast("double")
        * F.col("n1b").cast("double")
        / F.col("t").cast("double")
    ) / F.col("c1").cast("double")
    q = F.when(
        F.col("c1").isNull() | F.col("n1b").isNull(), F.lit(None)
    ).otherwise(F.floor(F.log(p) * 1e9 + 0.5).cast("bigint"))
    scored = (
        vb.join(bc, ["w1", "w2"], "left")
        .join(lm1, "w1", "left")
        .join(lm2, "w2", "left")
        .crossJoin(F.broadcast(tt))
        .select("cnt", q.alias("q"))
    )
    agg = scored.agg(
        F.sum("cnt").alias("n_bigrams"),
        F.sum(F.when(F.col("q").isNotNull(), F.col("cnt")).otherwise(0)).alias(
            "n_scored"
        ),
        F.sum(
            F.when(F.col("q").isNotNull(), F.col("cnt") * F.col("q")).otherwise(
                0
            )
        ).alias("sq"),
    )
    ce = (
        (F.lit(0.0) - F.col("sq").cast("double"))
        / 1e9
        / F.col("n_scored").cast("double")
        / F.lit(0.6931471805599453)
    )
    return agg.select(
        "n_bigrams",
        "n_scored",
        dround(
            (F.col("n_bigrams") - F.col("n_scored")).cast("double")
            / F.col("n_bigrams").cast("double"),
            6,
        ).alias("skip_rate"),
        dround(ce, 6).alias("ce_bits"),
        dround(F.pow(F.lit(2.0), ce), 6).alias("ppl"),
    )


@query(
    "l_heaps_law_fit",
    oracle="""
    WITH nn AS (
        SELECT CAST(MAX(doc_id) AS BIGINT) AS mx,
               CAST(MIN(doc_id) AS BIGINT) AS mn
        FROM documents
    ), th AS (
        SELECT f.k,
               CAST(nn.mn + CEIL(CAST((nn.mx - nn.mn + 1) AS DOUBLE)
                         / POWER(2.0, 4 - f.k)) - 1 AS BIGINT) AS t
        FROM nn, (SELECT unnest(generate_series(0, 4)) AS k) f
    ), tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), first_seen AS (
        SELECT w, CAST(MIN(doc_id) AS BIGINT) AS fd FROM tok GROUP BY w
    ), doc_counts AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
        FROM tok GROUP BY doc_id
    ), cp AS (
        SELECT th.k, th.t,
               (SELECT CAST(SUM(n_tok) AS BIGINT) FROM doc_counts
                WHERE doc_id <= th.t) AS n_tokens,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM first_seen
                WHERE fd <= th.t) AS vocab
        FROM th
    ), q AS (
        SELECT k,
               CAST(FLOOR(ln(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5)
                    AS BIGINT) AS xq,
               CAST(FLOOR(ln(CAST(vocab AS DOUBLE)) * 1e6 + 0.5)
                    AS BIGINT) AS yq,
               n_tokens, vocab
        FROM cp
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(xq) AS BIGINT) AS sx,
               CAST(SUM(yq) AS BIGINT) AS sy,
               CAST(SUM(xq * yq) AS BIGINT) AS sxy,
               CAST(SUM(xq * xq) AS BIGINT) AS sxx,
               CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
               CAST(MAX(vocab) AS BIGINT) AS vocab
        FROM q
    )
    SELECT m AS n_checkpoints, n_tokens, vocab,
           ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                 / CAST(m * sxx - sx * sx AS DOUBLE) * 1e6) / 1e6 + 0
               AS beta,
           ROUND(exp((CAST(sy AS DOUBLE)
                      - CAST(m * sxy - sx * sy AS DOUBLE)
                        / CAST(m * sxx - sx * sx AS DOUBLE)
                        * CAST(sx AS DOUBLE))
                     / CAST(m AS DOUBLE) / 1e6) * 1e4) / 1e4 + 0 AS k_coef
    FROM s
    """,
)
def l_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW FIT — the vocabulary-growth exponent V(n) ≈ K·n^β
    (Heaps 1978; public method), estimated by least squares on
    (ln n, ln V) at five geometric corpus-prefix checkpoints (doc_id
    prefixes at 1/16, 1/8, 1/4, 1/2, 1 of the corpus). β is the number
    this repo's own broadcast rule (14a) leans on — "vocabulary is
    Heaps-law unbounded" — made measurable: β near 1 flags an
    open-vocabulary / junk-token corpus (unbounded embedding tables,
    exploding dedup shingle spaces), β ≪ 1 a saturating one; corpus
    curators track it across crawl snapshots.

    Determinism: prefix vocab sizes come from per-token FIRST-SEEN
    doc ids (min over exact BIGINTs) compared to integer thresholds —
    no ordering dependence; ln of exact integers quantizes to 1e6
    fixed-point BIGINTs and the regression normal equations are EXACT
    integer sums/products (products ≤ (1.7e7)² ≈ 3e14, well inside
    BIGINT even ×5), so slope and intercept are ratios of identical
    BIGINTs in both engines; one exp at the end on identical doubles.

    Scale: one token fan-out → per-token MIN(doc_id) (vocab-bounded
    partial agg — the same shuffle class as every *count* op here) and
    per-doc token counts (doc-keyed); checkpoints are 5 conditional
    sums over those two bounded tables (flags computed per row, no
    Expand, no per-checkpoint rescan). The prefix definition is
    doc_id order — the corpus's stable ingest order — so the whole fit
    is one pass over the token stream."""
    d = table(spark, sf_dir, "documents")
    nn = d.agg(F.max("doc_id").alias("mx"), F.min("doc_id").alias("mn"))
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    first_seen = tok.groupBy("w").agg(F.min("doc_id").alias("fd"))
    doc_counts = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    ks = spark.range(5).select(F.col("id").cast("int").alias("k"))
    # checkpoints anchor at MIN(doc_id), not 0 (r13 advice fix): on a
    # 1-based or sparse-id corpus a 0-anchored k=0 threshold could
    # precede every doc_id, and the filter+groupBy+inner-join here
    # would DROP that empty checkpoint (m=4) while the oracle's
    # correlated subqueries kept a NULL row (m=5) — engines diverge.
    # Anchored at mn the k=0 prefix always holds >= 1 doc; identical
    # to the old form on the 0-based contiguous fixtures.
    th = ks.crossJoin(F.broadcast(nn)).select(
        "k",
        (
            F.col("mn")
            + F.ceil(
                (F.col("mx") - F.col("mn") + 1).cast("double")
                / F.pow(F.lit(2.0), 4 - F.col("k"))
            )
            - 1
        )
        .cast("bigint")
        .alias("t"),
    )
    # conditional sums against the two bounded tables: each checkpoint
    # is a flag, evaluated in ONE pass per table (broadcast the 5-row
    # threshold table)
    cp_tok = (
        doc_counts.crossJoin(F.broadcast(th))
        .filter(F.col("doc_id") <= F.col("t"))
        .groupBy("k", "t")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    cp_voc = (
        first_seen.crossJoin(F.broadcast(th))
        .filter(F.col("fd") <= F.col("t"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    q = cp_tok.join(cp_voc, "k").select(
        "k",
        F.floor(F.log(F.col("n_tokens").cast("double")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("xq"),
        F.floor(F.log(F.col("vocab").cast("double")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("yq"),
        "n_tokens",
        "vocab",
    )
    s = q.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("xq").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
        F.max("n_tokens").alias("n_tokens"),
        F.max("vocab").alias("vocab"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return s.select(
        F.col("m").alias("n_checkpoints"),
        "n_tokens",
        "vocab",
        dround(slope, 6).alias("beta"),
        dround(
            F.exp(
                (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
                / F.col("m").cast("double")
                / F.lit(1e6)
            ),
            4,
        ).alias("k_coef"),
    )


@query(
    "l_distinct_ngram_diversity",
    oracle="""
    WITH w AS (
        SELECT source, string_split(text, ' ') AS w FROM documents
    ), g AS (
        SELECT source, 1 AS n, w[i.i] AS g
        FROM w, LATERAL (SELECT unnest(generate_series(1, len(w)))
                         AS i) i
        UNION ALL
        SELECT source, 2 AS n, array_to_string(w[i.i:i.i + 1], ' ') AS g
        FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 1))
                         AS i) i
        UNION ALL
        SELECT source, 3 AS n, array_to_string(w[i.i:i.i + 2], ' ') AS g
        FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 2))
                         AS i) i
    ), c AS (
        SELECT source, n,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct
        FROM g GROUP BY source, n
    )
    SELECT source, n,
           n_grams, n_distinct,
           ROUND(CAST(n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)
                 * 1e6) / 1e6 + 0 AS distinct_ratio
    FROM c ORDER BY source, n
    """,
)
def l_distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT-N DIVERSITY — distinct-1/2/3 ratios per source (Li et
    al. 2016, "A Diversity-Promoting Objective Function for Neural
    Conversation Models"; public method): the standard degenerate-
    generation alarm — a source whose distinct-2 collapses is emitting
    templated/looping text (model output recycled into a crawl, spam
    farms, boilerplate mirrors). Read next to l_dup_ngram_rate (which
    is per-DOC duplicate mass; this is per-SOURCE type/token ratio)
    and l_ngram_entropy_rate (sequential predictability).

    Determinism: pure exact counting — gram strings are exact
    substring joins; one ratio per (source, n), dround 1e-6.

    Scale: ONE fan-out of 3 gram orders per token position (codegen
    Generate over a plain index sequence; the n<=3 inner fan-out is a
    constant factor, and slice() runs on the once-per-row array below
    the Generate); the (source, n, gram)-keyed distinct collapse
    partial-aggregates map-side, then a domain-bounded
    (|sources| x 3)-row rollup. No scatter (the distinct collapse is
    the compressing-fan-out class, pin 16a). Never pairwise."""
    w = table(spark, sf_dir, "documents").select(
        "source", F.split(F.col("text"), " ").alias("w")
    )
    g = (
        w.select(
            "source",
            "w",
            F.explode(F.expr("sequence(1, 3)")).alias("n"),
        )
        .select(
            "source",
            "w",
            "n",
            F.explode(
                F.expr(
                    "CASE WHEN size(w) >= n THEN sequence(1, size(w) - n + 1)"
                    " ELSE CAST(array() AS ARRAY<INT>) END"
                )
            ).alias("i"),
        )
        .select(
            "source",
            "n",
            F.expr("array_join(slice(w, i, n), ' ')").alias("g"),
        )
    )
    c = g.groupBy("source", "n").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("g").alias("n_distinct"),
    )
    return c.select(
        "source",
        "n",
        "n_grams",
        "n_distinct",
        dround(
            F.col("n_distinct").cast("double") / F.col("n_grams").cast("double"),
            6,
        ).alias("distinct_ratio"),
    ).orderBy("source", "n")
