"""Text-analysis operators for training-data pipelines: language ID, quality
scoring, token counting, document fingerprinting.

All native column expressions (whole-stage codegen; zero Python in the hot
path) and all portable to the DuckDB oracle — scores are deterministic
integer/rounded arithmetic, hashes go through sha256 or position-weighted sums
rather than engine-private hash functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.functions.rank import global_rank, ntile

# tiny deterministic stopword lists for the n-gram/stopword language heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "de", "et", "est"),
}

QUALITY_STOPWORDS = ("the", "a", "an", "of", "and", "or", "is", "are")


def _count_in(text_col: str, words: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{w}'" for w in words)
    return (
        f"size(filter(split({text_col}, ' '), w -> array_contains(array({arr}), w)))"
    )


def language_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language heuristic: argmax language by stopword hits,
    deterministic tie-break by language code; 'und' when no hits.
    Output: (doc_id, pred_lang, best_hits)."""
    d = docs.select(F.col(id_col).cast("string").alias("doc_id"), F.col(text_col).alias("t"))
    for lang, words in LANG_STOPWORDS.items():
        d = d.withColumn(f"hits_{lang}", F.expr(_count_in("t", words)))
    langs = sorted(LANG_STOPWORDS)
    struct_arr = ", ".join(
        f"named_struct('hits', hits_{lg}, 'lang', '{lg}')" for lg in langs
    )
    d = d.withColumn(
        "best",
        F.expr(
            f"array_max(array({struct_arr}))"  # max by (hits, lang); lang breaks ties
        ),
    )
    return d.select(
        "doc_id",
        F.when(F.col("best.hits") > 0, F.col("best.lang")).otherwise(F.lit("und")).alias("pred_lang"),
        F.col("best.hits").cast("int").alias("best_hits"),
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + composite score (rounded, portable):
    n_words, n_chars, avg_word_len, stopword_ratio, distinct_ratio, score."""
    d = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(text_col).alias("t"),
    )
    d = (
        d.withColumn("n_words", F.size(F.split("t", " ")))
        .withColumn("n_chars", F.length("t"))
        .withColumn("n_stop", F.expr(_count_in("t", QUALITY_STOPWORDS)))
        .withColumn("n_distinct", F.size(F.array_distinct(F.split("t", " "))))
    )
    d = (
        d.withColumn(
            "avg_word_len",
            F.round((F.col("n_chars") - (F.col("n_words") - 1)) / F.col("n_words"), 4),
        )
        .withColumn("stopword_ratio", F.round(F.col("n_stop") / F.col("n_words"), 4))
        .withColumn("distinct_ratio", F.round(F.col("n_distinct") / F.col("n_words"), 4))
    )
    # composite in [0, ~1]: long-enough, lexically diverse, some-but-not-all stopwords
    d = d.withColumn(
        "score",
        F.round(
            F.least(F.col("n_words") / F.lit(100.0), F.lit(1.0)) * 0.4
            + F.col("distinct_ratio") * 0.4
            + F.least(F.col("stopword_ratio") * F.lit(5.0), F.lit(1.0)) * 0.2,
            4,
        ),
    )
    return d.select(
        "doc_id", "n_words", "n_chars", "avg_word_len",
        "stopword_ratio", "distinct_ratio", "score",
    )


def token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword estimate
    (ceil(chars/4) per word, the common 4-chars-per-token rule of thumb —
    deterministic and portable). Output: (doc_id, n_ws_tokens, n_bpe_tokens)."""
    return docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.size(F.split(text_col, " ")).alias("n_ws_tokens"),
        F.expr(
            f"cast(aggregate(split({text_col}, ' '), 0L, "
            f"(a, w) -> a + cast(ceil(length(w) / 4.0) as bigint)) as int)"
        ).alias("n_bpe_tokens"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-sensitive document fingerprint: position-weighted word sum
    mod 2^31-1 (portable: same arithmetic runs in DuckDB; word hash =
    ascii(first char) * 31 + length). Distinguishes permutations, unlike a
    bag-of-words hash. Output: (doc_id, fp)."""
    return docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.expr(
            f"""
            pmod(
              aggregate(
                zip_with(split({text_col}, ' '),
                         sequence(1, size(split({text_col}, ' '))),
                         (w, i) -> (cast(ascii(w) as bigint) * 31 + length(w)) * i),
                cast(0 as bigint), (a, x) -> a + x),
              2147483647)
            """
        ).cast("long").alias("fp"),
    )


def bigram_perplexity(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl Data", LREC
    2020): per-document perplexity under an n-gram LM — low-perplexity docs
    read like the corpus, high-perplexity docs are noise. CCNet uses a
    pretrained KenLM; no model ships in this sandbox, so the LM is a
    self-trained add-alpha-smoothed bigram model over the corpus itself —
    the same two map-side-combinable count aggregations a KenLM training
    pass runs, and fully value-replayable in the SQL oracle.

    P(w2 | w1) = (C(w1 w2) + alpha) / (C(w1 .) + alpha * V), with a <s> BOS
    context per document and V = distinct-token vocabulary size.

    Scale shape: two integer count tables (bigram, context) built by
    map-side-combinable groupBys; the per-doc score re-joins counts on the
    bigram key — hot bigrams partial-aggregate cleanly, and the final
    per-doc fold runs over a position-sorted array so the floating-point
    sum order is deterministic (shuffle order never touches the result).

    Output: (doc_id, n_tokens, ppl) with ppl rounded 4dp; null-text docs
    dropped (an empty string still yields the single token '' — both engines
    split it identically, so the oracle agrees).
    """
    w = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.split(F.lower(F.col(text_col)), " ").alias("ws"),
    ).filter(F.size("ws") > 0)
    pairs = w.select(
        "doc_id",
        F.size("ws").alias("n"),
        F.explode(
            F.expr(
                "transform(ws, (x, i) -> struct("
                "i as pos, "
                "case when i = 0 then '<s>' else element_at(ws, i) end as w1, "
                "x as w2))"
            )
        ).alias("p"),
    ).select("doc_id", "n", "p.pos", "p.w1", "p.w2")
    vocab_size = pairs.select("w2").distinct().count()
    c12 = pairs.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    c1 = pairs.groupBy("w1").agg(F.count("*").cast("long").alias("c1"))
    joined = pairs.join(c12, ["w1", "w2"]).join(c1, "w1")
    fold = (
        f"aggregate(terms, 0.0d, "
        f"(a, t) -> a + ln((t.c12 + {alpha}d) / (t.c1 + {alpha}d * {vocab_size}d)))"
    )
    return (
        joined.groupBy("doc_id", "n")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c12", "c1"))).alias("terms"))
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.round(F.exp(-F.expr(fold) / F.col("n")), 4).alias("ppl"),
        )
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document by smooth TF-IDF
    (idf = ln((1+N)/(1+df)) + 1, the sklearn smoothing — never divides by
    zero and keeps corpus-wide terms at weight ~tf). Deterministic
    tie-break: (score desc, term asc).

    Plan shape: one explode + two map-side-combinable counts (term-per-doc
    and doc-freq) + a broadcastable N, then a per-doc top-k window — the df
    table is |vocab| rows, tiny next to the corpus, so the join broadcasts.
    Output: (doc_id, term, score) with score rounded 4dp.
    """
    words = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.col(id_col)).distinct().count()
    scored = tf.join(F.broadcast(df_t), "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * (F.log((1.0 + n_docs) / (1.0 + F.col("df"))) + 1.0), 4
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_id", "term", "score")
    )


def pmi_collocations(
    docs: DataFrame,
    min_count: int = 10,
    k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information:
    pmi = ln(c_xy * T / (c_x * c_y)) over the corpus bigram table, where
    c_x / c_y are the left/right positional marginals and T the total bigram
    count. ``min_count`` suppresses the classic PMI low-frequency blowup.

    All counts are exact map-side-combinable aggregates over the exploded
    bigram stream; the two marginal joins key on a single word (vocab-sized
    dims -> broadcast). Output: (w1, w2, n, pmi) with pmi rounded 4dp,
    ordered deterministically by (pmi desc, w1 asc, w2 asc) — top-k is a
    TakeOrderedAndProject, never a global sort of the full vocab².
    """
    # sequence(1, size-1) DESCENDS to [1, 0] when size(ws) < 2 (null text
    # splits to null -> size -1), indexing ws out of bounds under ANSI mode
    # — guard single-token/empty docs with an empty bigram array instead
    ws = docs.select(F.split(F.col(text_col), " ").alias("ws"))
    big = ws.select(
        F.explode(
            F.expr(
                "CASE WHEN ws IS NULL OR size(ws) < 2 THEN array() ELSE "
                "transform(sequence(1, size(ws) - 1), "
                "i -> struct(ws[i-1] as w1, ws[i] as w2)) END"
            )
        ).alias("b")
    ).select("b.w1", "b.w2").filter((F.col("w1") != "") & (F.col("w2") != ""))
    c_xy = big.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    c_x = big.groupBy("w1").agg(F.count("*").alias("cx"))
    c_y = big.groupBy("w2").agg(F.count("*").alias("cy"))
    total = big.count()
    scored = (
        c_xy.filter(F.col("n") >= min_count)
        .join(F.broadcast(c_x), "w1")
        .join(F.broadcast(c_y), "w2")
        .select(
            "w1",
            "w2",
            F.col("n").cast("long").alias("n"),
            F.round(
                F.log(F.col("n").cast("double") * float(total) / (F.col("cx") * F.col("cy"))),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()).limit(k)


def mad_outliers(
    docs: DataFrame,
    value_expr: str = "cast(n_chars as double)",
    group_col: str = "source",
    id_col: str = "doc_id",
    cutoff: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier flagging via Median Absolute Deviation
    (Hampel identifier; Leys et al. 2013 is the standard 'use MAD, not
    stdev' reference for data cleaning): a doc is an outlier in its group
    when |x - median(group)| > cutoff * MAD(group). Mean/stdev z-scores are
    themselves dragged by the outliers they are supposed to catch; the
    median/MAD pair has a 50% breakdown point, which is why curation
    pipelines threshold document lengths this way.

    Determinism/portability: both medians use EXACT linear-interpolation
    percentile (Spark ``percentile`` == DuckDB ``quantile_cont``, the same
    (n-1)p definition); inputs are integer-valued, so every interpolated
    midpoint is an exact binary fraction and the oracle comparison is
    bit-exact, not ULP-lucky.

    Scale shape: two grouped EXACT percentiles (each one shuffle keyed by
    group — with few large groups the reducers hold whole groups, which is
    the honest cost of exact order statistics) + two broadcast joins of the
    tiny per-group stats back onto the corpus. At 100 TB, swap the exact
    percentile for the grouped HDR sketch (curation.per_group_quantile_filter
    is exactly that operator) and keep this as the small-sample calibrator
    that validates the sketch's thresholds.

    Output: (doc_id, grp, x, med, mad, is_outlier 0/1).
    """
    d = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(group_col).alias("grp"),
        F.expr(value_expr).cast("double").alias("x"),
    )
    med = d.groupBy("grp").agg(F.expr("percentile(x, 0.5)").alias("med"))
    dm = d.join(F.broadcast(med), "grp")
    mad = dm.groupBy("grp").agg(
        F.expr("percentile(abs(x - med), 0.5)").alias("mad")
    )
    return (
        dm.join(F.broadcast(mad), "grp")
        .select(
            "doc_id", "grp", "x", "med", "mad",
            (F.abs(F.col("x") - F.col("med")) > F.lit(cutoff) * F.col("mad"))
            .cast("int")
            .alias("is_outlier"),
        )
    )


def shannon_entropy(
    df: DataFrame,
    group_col: str = "source",
    class_col: str = "lang",
) -> DataFrame:
    """Per-group Shannon entropy of a categorical distribution — the
    standard corpus-diversity diagnostic (is a source dominated by one
    language / one domain?) and the quantity temperature-based mixture
    rebalancing (ts_temperature) tries to raise.

    H = ln(n) - (1/n) * sum_c(cnt_c * ln(cnt_c)), computed from exact
    integer counts so the only floats are final ln/divide — the DuckDB
    replay sees the identical integers and the identical double ops.
    norm_entropy divides by ln(n_classes) (0.0 for a single class).

    Scale shape: two map-side-combinable grouped counts ((group, class)
    then group) — the classic two-level aggregate; no joins, no windows,
    output is group-cardinality-sized.
    """
    cc = df.groupBy(group_col, class_col).agg(F.count("*").alias("c"))
    return (
        cc.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.count("*").cast("long").alias("n_classes"),
            F.sum(F.col("c") * F.log(F.col("c"))).alias("clogc"),
        )
        .select(
            "grp", "n", "n_classes",
            F.round(F.log("n") - F.col("clogc") / F.col("n"), 6).alias("entropy"),
            F.round(
                F.when(F.col("n_classes") > 1,
                       (F.log("n") - F.col("clogc") / F.col("n"))
                       / F.log("n_classes")).otherwise(F.lit(0.0)),
                6,
            ).alias("norm_entropy"),
        )
    )


def winsorize(
    docs: DataFrame,
    value_expr: str = "cast(n_chars as double)",
    group_col: str = "source",
    id_col: str = "doc_id",
    p_lo: float = 0.05,
    p_hi: float = 0.95,
) -> DataFrame:
    """Per-group winsorization: clamp a value to its group's exact
    [p_lo, p_hi] interpolated percentiles — the robust-statistics
    complement to mad_outliers (flagging) that training-data pipelines use
    to cap length/score features instead of dropping rows.

    Same exactness argument as mad_outliers: Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the (n-1)p definition, and integer
    inputs make every midpoint an exact binary fraction. Same scale shape:
    one grouped exact percentile pass + a broadcast of the tiny per-group
    bounds; at 100 TB swap the exact percentile for the grouped HDR sketch
    and keep this as its calibrator.

    Output: (doc_id, grp, x, lo, hi, x_wins, clipped 0/1).
    """
    d = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(group_col).alias("grp"),
        F.expr(value_expr).cast("double").alias("x"),
    )
    bounds = d.groupBy("grp").agg(
        F.expr(f"percentile(x, {p_lo!r})").alias("lo"),
        F.expr(f"percentile(x, {p_hi!r})").alias("hi"),
    )
    return d.join(F.broadcast(bounds), "grp").select(
        "doc_id", "grp", "x", "lo", "hi",
        F.least(F.greatest(F.col("x"), F.col("lo")), F.col("hi")).alias("x_wins"),
        ((F.col("x") < F.col("lo")) | (F.col("x") > F.col("hi")))
        .cast("int").alias("clipped"),
    )


def zipf_fit(
    docs: DataFrame,
    text_col: str = "text",
    top_r: int = 100,
) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: OLS of
    ln(freq) on ln(rank) across the ``top_r`` most frequent words — the
    standard sanity check that scraped/generated text has a natural
    frequency profile (slope near -1); a flat or cliffed slope flags
    boilerplate floods or template spam. Works on whitespace word-soup
    (no sentence structure needed), which is why it replaces a
    readability score here.

    Exactness: word counts are exact integers from one map-side
    combinable groupBy; the rank is a total order by (count DESC, word)
    so ties are deterministic on both engines; ln/multiply/divide happen
    over those identical integers in the identical formula, and the
    outputs are rounded to 6 dp — the ts_entropy contract.

    Scale shape: the corpus-sized work is the word count groupBy; top-R
    selection is a distributed orderBy.limit (per-partition top-R then a
    tiny reduce), and the regression runs over R rows. No global sort of
    the vocabulary, no window over the corpus.

    Output: single row (n_points, slope, intercept, r2), 6-dp doubles.
    """
    wc = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(int(top_r))
    )
    from pyspark.sql import Window as W

    ranked = wc.withColumn(
        "r", F.row_number().over(W.orderBy(F.desc("c"), "w"))
    ).select(
        F.log("r").alias("x"), F.log("c").alias("y")
    )
    s = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return s.selectExpr(
        "n as n_points",
        "round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) as slope",
        "round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)"
        " as intercept",
        "round(pow(n * sxy - sx * sy, 2) / "
        "((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) as r2",
    )


def simpson_diversity(
    df: DataFrame,
    group_col: str = "source",
    class_col: str = "lang",
) -> DataFrame:
    """Per-group Simpson diversity of a categorical distribution: the
    probability two random docs differ in class, D = 1 - sum(c^2)/n^2,
    plus the inverse-Simpson 'effective number of classes' n^2/sum(c^2)
    — the companion diagnostic to shannon_entropy (ts_entropy) that
    mixture rebalancing reads.

    Exact integer counts and integer squares (widened to decimal(38)
    before the square so BIGINT never overflows — the _d18 discipline),
    one final double divide rounded to 6 dp. Two map-side combinable
    grouped counts, no joins, group-cardinality-sized output.
    """
    cc = df.groupBy(group_col, class_col).agg(F.count("*").alias("c"))
    return (
        cc.groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.count("*").cast("long").alias("n_classes"),
            F.sum(F.expr("cast(c as decimal(19,0)) * cast(c as decimal(19,0))"))
            .alias("sq"),
        )
        .selectExpr(
            "grp", "n", "n_classes",
            "round(1.0 - cast(sq as double) / (cast(n as double) * n), 6)"
            " as simpson",
            "round(cast(n as double) * n / cast(sq as double), 6)"
            " as inv_simpson",
        )
    )


def kl_by_group(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group KL divergence of the group's unigram distribution from
    the full-corpus distribution, KL(P_g || Q) = sum_w p_w ln(p_w/q_w) —
    the drift/contamination diagnostic that flags a source whose word
    mix departs from the corpus (template spam, wrong-language shard,
    generator mode collapse). Every group word is corpus-supported by
    construction, so no smoothing term is needed.

    Exactness: both distributions come from exact integer counts; the
    summand is written as a single identical formula over those integers
    ((c_gw / n_g) * ln((c_gw * n) / (n_g * c_w))) evaluated in double
    and rounded to 6 dp after the vocabulary-sized sum — the ts_entropy
    contract (vocab-sized float sums, corpus-sized integer work).

    Scale shape: two map-side combinable grouped counts ((group, word)
    and (word)) plus one broadcast of the corpus word table; output is
    group-cardinality-sized.
    """
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).filter(F.col("w") != "")
    gw = toks.groupBy("grp", "w").agg(F.count("*").cast("long").alias("cgw"))
    cw = toks.groupBy("w").agg(F.count("*").cast("long").alias("cw"))
    ng = gw.groupBy("grp").agg(F.sum("cgw").cast("long").alias("ng"))
    n = toks.count()
    return (
        gw.join(F.broadcast(cw), "w")
        .join(F.broadcast(ng), "grp")
        .groupBy("grp")
        .agg(
            F.max("ng").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_words"),
            F.sum(
                F.expr(
                    f"(cast(cgw as double) / ng)"
                    f" * ln(cast(cgw as double) * {int(n)}"
                    f" / (cast(ng as double) * cw))"
                )
            ).alias("klsum"),
        )
        .selectExpr("grp", "n_tokens", "n_words", "round(klsum, 6) as kl")
    )


def bigram_cond_entropy(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Corpus bigram conditional entropy H(w2 | w1) = -(1/N) * sum over
    bigrams of c_bg * ln(c_bg / c_w1) — the predictability diagnostic
    that separates natural text (moderate H) from template spam (H near
    0) and shuffled word soup (H near the unigram entropy). Uses the
    pmi_collocations bigram machinery including its size(ws) < 2 guard
    (sequence() DESCENDS on short docs under ANSI).

    Exact integer bigram/prefix counts (two map-side combinable
    groupBys), vocabulary-sized float sum, 6 dp — the ts_entropy
    contract. Output: one row (n_bigrams, n_distinct_bigrams, h_cond).
    """
    bg = docs.select(
        F.explode(
            F.expr(
                f"case when {text_col} is null"
                f" or size(split({text_col}, ' ')) < 2 then array() else "
                f"transform(sequence(1, size(split({text_col}, ' ')) - 1), "
                f"i -> struct(split({text_col}, ' ')[i - 1] as w1, "
                f"split({text_col}, ' ')[i] as w2)) end"
            )
        ).alias("b")
    ).select("b.w1", "b.w2").filter((F.col("w1") != "") & (F.col("w2") != ""))
    cbg = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c"))
    cw1 = cbg.groupBy("w1").agg(F.sum("c").cast("long").alias("cw"))
    return (
        cbg.join(F.broadcast(cw1), "w1")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.count("*").cast("long").alias("n_distinct_bigrams"),
            F.sum(
                F.expr("c * ln(cast(c as double) / cw)")
            ).alias("hsum"),
        )
        .selectExpr(
            "n_bigrams", "n_distinct_bigrams",
            "round(-hsum / n_bigrams, 6) as h_cond",
        )
    )


def jsd_split(
    docs: DataFrame,
    text_col: str = "text",
    side_col: str = "side",
) -> DataFrame:
    """Jensen-Shannon divergence between the unigram distributions of
    two document populations (side 'a' vs side 'b') — the SYMMETRIC,
    bounded (<= ln 2) drift measure; unlike KL it tolerates words seen
    on only one side (the mixture m is never zero where either side has
    mass), which is exactly the regime where corpus halves differ.

    Exactness: ONE map-side combinable groupBy(word) with conditional
    integer sums gives (c_a, c_b) per word — no join at all; the
    summand is a single identical formula over those exact integers
    evaluated in double, vocabulary-sized sum, 6 dp (the ts_entropy
    contract). Zero-count terms are excluded by CASE, not by rows
    disappearing, so both engines sum the same term set.

    Output: one row (n_a, n_b, n_words, jsd).
    """
    toks = docs.select(
        F.col(side_col).alias("side"),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).filter(F.col("w") != "")
    wc = toks.groupBy("w").agg(
        F.sum(F.expr("cast(side = 'a' as int)")).cast("long").alias("ca"),
        F.sum(F.expr("cast(side = 'b' as int)")).cast("long").alias("cb"),
    )
    tot = wc.agg(
        F.sum("ca").cast("long").alias("na"),
        F.sum("cb").cast("long").alias("nb"),
        F.count("*").cast("long").alias("n_words"),
    )
    j = wc.crossJoin(F.broadcast(tot))
    term = (
        "0.5d * (case when ca > 0 then (cast(ca as double) / na)"
        " * ln((cast(ca as double) / na)"
        "   / (0.5d * (cast(ca as double) / na"
        "      + cast(cb as double) / nb))) else 0.0d end"
        " + case when cb > 0 then (cast(cb as double) / nb)"
        " * ln((cast(cb as double) / nb)"
        "   / (0.5d * (cast(ca as double) / na"
        "      + cast(cb as double) / nb))) else 0.0d end)"
    )
    return (
        j.groupBy("na", "nb", "n_words")
        .agg(F.sum(F.expr(term)).alias("s"))
        .selectExpr(
            "na as n_a", "nb as n_b", "n_words", "round(s, 6) as jsd"
        )
    )


def taxonomy_tags(
    docs: DataFrame,
    n_keywords: int = 40,
    n_topics: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "tax-v1",
) -> DataFrame:
    """Broadcast-dictionary topic tagging — the domain-labeling stage of
    a training-data mixture pipeline. The keyword dictionary is derived
    from the corpus itself so the op stays self-contained and
    deterministic: the ``n_keywords`` most document-frequent lowercase
    alphabetic tokens (length > 3; ties broken by token asc) are each
    assigned a topic by a salted 60-bit sha256 hash mod ``n_topics``
    (in production this dict is a curated table — same plan shape).

    Output per topic: keyword count, number of docs containing >= 1 of
    its keywords, and that count as a share of the corpus. Scale shape:
    one distinct (doc, token) projection feeds BOTH the frequency count
    and the tagging join; the dictionary is vocabulary-top-k sized and
    explicitly ``broadcast()`` — the tag join never shuffles the corpus.
    """
    from knowledgegraphbuilder_spark.operators.curation import _H60

    tok = (
        docs.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w"),
        )
        .filter(F.col("w").rlike("^[a-z]{4,}$"))
        .distinct()
    )
    top = (
        tok.groupBy("w")
        .agg(F.count("*").cast("long").alias("df"))
        .orderBy(F.col("df").desc(), F.col("w").asc())
        .limit(n_keywords)
    )
    dict_df = top.select(
        "w",
        F.pmod(
            F.expr(_H60.format(s=f"concat('{salt}', w)")), F.lit(n_topics)
        ).cast("long").alias("topic"),
    )
    tagged = (
        tok.join(F.broadcast(dict_df), "w")
        .select("doc_id", "topic")
        .distinct()
    )
    n_docs_total = docs.select(F.col(id_col)).distinct().count()
    return (
        dict_df.groupBy("topic")
        .agg(F.count("*").cast("long").alias("n_keywords"))
        .join(
            F.broadcast(
                tagged.groupBy("topic").agg(
                    F.count("*").cast("long").alias("n_docs")
                )
            ),
            "topic",
            "left",
        )
        .selectExpr(
            "topic",
            "n_keywords",
            "coalesce(n_docs, 0L) as n_docs",
            f"round(cast(coalesce(n_docs, 0L) as double)"
            f" / {n_docs_total}, 6) as doc_share",
        )
    )


def ccnet_buckets(
    docs: DataFrame,
    n_tiers: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet's head/middle/tail quality tiers (Wenzek et al., LREC 2020):
    rank every document by its LM perplexity (``bigram_perplexity``) and
    cut the corpus into ``n_tiers`` equal tiers — tier 1 = head (reads
    most like the corpus), tier ``n_tiers`` = tail (noise). CCNet keeps
    head+middle for LM training; this emits the per-tier profile that
    decision reads: doc count, token mass, and the perplexity range.

    Exactness: the rank orders by (ppl, doc_id) — a TOTAL order, so ntile
    is deterministic in both engines; per-tier mean ppl sums the 4-dp
    perplexities as DECIMAL(18,4) (exact, order-independent) and divides
    once. The rank of (ppl, id) is ``functions/rank.py:global_rank`` and
    the tier its ``ntile`` replay; everything after is tier-sized.
    """
    pp = bigram_perplexity(docs, text_col=text_col, id_col=id_col).select(
        F.col("doc_id").cast("long").alias("id"),
        "n_tokens",
        "ppl",
    )
    t = global_rank(pp, "ppl", "id").select(
        "n_tokens", "ppl", ntile("rank", "n", n_tiers).alias("tier")
    )
    return (
        t.groupBy("tier")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("ppl").alias("min_ppl"),
            F.max("ppl").alias("max_ppl"),
            F.sum(F.col("ppl").cast("decimal(18,4)")).alias("sp"),
        )
        .selectExpr(
            "cast(tier as int) as tier",
            "n_docs",
            "total_tokens",
            "min_ppl",
            "max_ppl",
            "round(cast(sp as double) / n_docs, 6) as mean_ppl",
        )
    )


def length_survival(
    docs: DataFrame,
    value_expr: str = "cast(n_chars as bigint)",
    max_pow: int = 14,
) -> DataFrame:
    """Doc-length survival curve at power-of-two thresholds: for each
    t = 2^k (k = 0..max_pow), how many documents have length >= t and
    what corpus share that is — the curve a packing/truncation design
    reads before fixing seq_len (what fraction of docs will split? what
    mass sits past the window?).

    Exactness: integer counts + one final divide. Scale shape: one
    explode to (doc x max_pow) rows — constant fan-out, map-side
    combinable count straight after, output is max_pow+1 rows; no doc
    ever shuffles more than its threshold flags.
    """
    n_docs = docs.count() or 1
    d = docs.selectExpr(f"{value_expr} as x")
    e = d.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, {max_pow}), k -> "
                f"named_struct('k', k, 'hit', case when x >= power(2, k) "
                f"then 1 else 0 end))"
            )
        ).alias("s")
    )
    return (
        e.groupBy(F.col("s.k").cast("int").alias("log2_threshold"))
        .agg(F.sum("s.hit").cast("long").alias("n_surviving"))
        .selectExpr(
            "log2_threshold",
            "cast(power(2, log2_threshold) as bigint) as threshold",
            "n_surviving",
            f"round(cast(n_surviving as double) / {n_docs}, 6) as survival",
        )
    )


def good_turing_coverage(
    docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Good-Turing vocabulary-coverage estimate: the probability mass of
    UNSEEN words is estimated by the hapax share p_unseen = n1 / N
    (Good 1953) — the one-number answer to "has this corpus saturated its
    vocabulary, or does every new shard still bring new words?" that
    complements the Heaps-law curve (ts_heaps). Also reports the
    dis-legomena count n2 and the Good-Turing adjusted hapax mass
    n1* = 2 * n2 / n1 per occurrence.

    Exactness: N, V, n1, n2 are exact integer counts from two grouped
    aggregates; the two probabilities are final divides. Scale shape:
    token explode -> count per word (map-side combinable) -> one scalar
    aggregate over the frequency-of-frequencies table.
    """
    w = docs.select(
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
    ).filter(F.col("w") != "")
    per = w.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    return per.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long").alias("n_hapax"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("long").alias("n_dis"),
    ).selectExpr(
        "n_tokens", "vocab", "n_hapax", "n_dis",
        "round(cast(n_hapax as double) / n_tokens, 6) as p_unseen",
        "round(1.0d - cast(n_hapax as double) / n_tokens, 6) as coverage",
    )


def keyness_llr(
    docs: DataFrame,
    focus_expr: str,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """Dunning log-likelihood (G2) keyness: which tokens are
    over/under-represented in a FOCUS slice of the corpus vs the rest
    (Dunning 1993) — the standard corpus-comparison keyword extractor
    (what characterizes this source/domain/split?), and the
    signal-vs-rest test behind domain-tag vocabularies.

    G2 = 2 * (a*ln(a/E1) + b*ln(b/E2)) over the 2x2 token table, with
    a = focus count, b = rest count, E = expected under pooling. Every
    cell and margin is an exact integer; ln/divide happen once per
    OUTPUT row (no folds over shuffled rows). Zero cells contribute 0
    (the lim x->0 of x ln x). direction = +1 when the token is
    over-represented in focus (integer cross-multiply a*d >= b*c, no
    division). Top-k selected by RAW g2 (desc, token asc tie-break) so
    both engines pick the identical set before display rounding.

    Scale shape: one explode + two map-side-combinable grouped counts
    (token x in_focus, then the global margins broadcast back onto the
    vocabulary-sized table); TakeOrderedAndProject for the top-k, never
    a full sort.

    Output: (token, n_focus, n_rest, direction, g2) — g2 rounded 6dp.
    """
    toks = (
        docs.selectExpr(
            f"cast(({focus_expr}) as int) as in_focus",
            f"explode(split({text_col}, ' ')) as token",
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.sum("in_focus").cast("long").alias("a"),
            F.sum(F.expr("1 - in_focus")).cast("long").alias("b"),
        )
    )
    marg = toks.agg(
        F.sum("a").cast("long").alias("c"), F.sum("b").cast("long").alias("d")
    )
    scored = toks.crossJoin(F.broadcast(marg)).selectExpr(
        "token", "a", "b",
        "case when cast(a as decimal(38, 0)) * d >= cast(b as decimal(38, 0)) * c"
        " then 1 else -1 end as direction",
        "2.0d * ("
        " case when a > 0 then a * ln(a / (cast(c as double) * (a + b) / (c + d)))"
        "      else 0.0d end"
        " + case when b > 0 then b * ln(b / (cast(d as double) * (a + b) / (c + d)))"
        "        else 0.0d end) as g2_raw",
    )
    return (
        scored.orderBy(F.desc("g2_raw"), F.col("token"))
        .limit(top_k)
        .select(
            "token",
            F.col("a").alias("n_focus"),
            F.col("b").alias("n_rest"),
            F.col("direction").cast("int").alias("direction"),
            F.round("g2_raw", 6).alias("g2"),
        )
    )


def bigram_next(
    docs: DataFrame,
    text_col: str = "text",
    top_heads: int = 20,
) -> DataFrame:
    """Bigram language-model head: for the ``top_heads`` most frequent
    tokens, the single most likely NEXT token with its conditional
    probability — the argmax table of the same bigram LM the perplexity
    filter trains, and the cheapest possible next-token predictor
    (type-ahead, OOV repair, synthetic-text sanity checks).

    Determinism: bigram and unigram counts are exact integers; the
    per-head argmax is max(struct(cnt, reversed-token)) — an AGGREGATE,
    not a sorted window, so hub heads cost their degree — with ties
    broken toward the lexicographically smallest next token; heads are
    the top unigram counts with (count desc, token) order. prob is the
    single integer ratio cnt/total, rounded 6dp.

    Output: (head, next_tok, cnt, total, prob).
    """
    ws = docs.selectExpr(
        f"filter(split({text_col}, ' '), x -> x <> '') as ws"
    ).filter(F.expr("size(ws) >= 2"))
    bi = (
        ws.selectExpr(
            "explode(transform(sequence(1, size(ws) - 1),"
            " i -> struct(ws[i - 1] as w1, ws[i] as w2))) as b"
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    heads = (
        bi.groupBy("w1")
        .agg(F.sum("cnt").cast("long").alias("total"))
        .orderBy(F.desc("total"), F.col("w1"))
        .limit(top_heads)
    )
    # argmax as an aggregate: max cnt, then MIN w2 on ties — encode the
    # tie-break by negating nothing: max(struct(cnt, w2)) would prefer the
    # LARGEST w2; aggregate a min over the cnt-maximal set instead via
    # two-phase: max cnt per head, then min w2 at that cnt.
    mx = bi.groupBy("w1").agg(F.max("cnt").alias("cnt"))
    best = (
        bi.join(mx, ["w1", "cnt"])
        .groupBy("w1", "cnt")
        .agg(F.min("w2").alias("next_tok"))
    )
    return (
        heads.join(best, "w1")
        .select(
            F.col("w1").alias("head"),
            "next_tok",
            "cnt",
            "total",
            F.round(
                F.col("cnt").cast("double") / F.col("total").cast("double"), 6
            ).alias("prob"),
        )
    )


def textrank_keywords(
    docs: DataFrame,
    top_k: int = 20,
    damping: float = 0.85,
    n_iter: int = 30,
    tol: float = 1.0e-9,
    text_col: str = "text",
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) at
    corpus scale: PageRank over the word co-occurrence graph, where
    nodes are words and edge weights are corpus-wide adjacent-bigram
    counts — the unsupervised keyword salience score that beats raw
    frequency because it rewards words central to many contexts, not
    merely frequent ones.

    Composition, not reimplementation: the bigram stream is the exact
    machinery of :func:`pmi_collocations` (including its size(ws) < 2
    ANSI guard), and the ranking is
    :func:`~knowledgegraphbuilder_spark.operators.pagerank.personalized_pagerank`
    with EVERY word as a source — uniform teleport is classic PageRank,
    so the same operator serves personalized retrieval and TextRank.
    Scale shape: one map-side-combinable bigram count (vocab² bounded,
    in practice Zipf-sparse), then the PPR loop's own adaptive
    driver/distributed split — a vocab-sized graph runs vectorized on
    the driver, a web-scale one in the distributed loop.

    Output: (word, score) — top_k by 4dp-rounded score, word-tiebroken,
    via TakeOrderedAndProject (never a full sort).
    """
    from knowledgegraphbuilder_spark.operators.pagerank import (
        personalized_pagerank,
    )

    ws = docs.select(F.split(F.col(text_col), " ").alias("ws"))
    big = ws.select(
        F.explode(
            F.expr(
                "CASE WHEN ws IS NULL OR size(ws) < 2 THEN array() ELSE "
                "transform(sequence(1, size(ws) - 1), "
                "i -> struct(ws[i-1] as w1, ws[i] as w2)) END"
            )
        ).alias("b")
    ).select("b.w1", "b.w2").filter((F.col("w1") != "") & (F.col("w2") != ""))
    edges = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("double").alias("cnt")
    )
    words = (
        edges.select(F.col("w1").alias("node_id"))
        .unionAll(edges.select(F.col("w2").alias("node_id")))
        .distinct()
    )
    if words.isEmpty():
        # no bigrams anywhere (empty / single-token corpus): no graph
        return docs.sparkSession.createDataFrame(
            [], "word string, score double"
        )
    ranks = personalized_pagerank(
        edges, words, damping, n_iter, tol,
        src_col="w1", dst_col="w2", weight_col="cnt",
    )
    return (
        ranks.select(
            F.col("node_id").alias("word"),
            F.round("score", 4).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("word"))
        .limit(top_k)
    )
