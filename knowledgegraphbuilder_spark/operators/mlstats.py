"""Exact-sufficient-statistics regression and correlation.

Grouped OLS and pairwise Pearson correlation computed from INTEGER
sufficient statistics (n, Sx, Sy, Sxx, Syy, Sxy) carried in Spark
DECIMAL / DuckDB HUGEINT, so both engines divide the *identical* exact
integers and the only floats are the final divide/sqrt — no re-associated
double sums, no Welford-vs-naive drift between engines.

Scale shape: one map-side-combinable aggregate over the fact table (the
sufficient statistics are sums — partial aggregation applies), output is
group-cardinality-sized. No joins, no windows, no second pass. This is
the textbook "regression as an aggregate" pattern every SQL warehouse
uses; at ~1e12 rows the decimal(38) headroom for n*Syy starts to bind —
at that scale pre-center/pre-scale the inputs (the statistics stay exact
integers after any affine integer rescale).

Decimal precisions are chosen so every product stays <= decimal(38,0)
and Spark's decimal multiplication therefore stays EXACT (no precision
loss truncation): n as decimal(12), linear sums decimal(20), quadratic
sums decimal(26) -> products max 12+26+1 = 39 - 1 spare < 38 via the
split sqrt (each variance factor is converted to double separately).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledgegraphbuilder_spark.functions.rank import global_rank, ntile

_N = "cast(count(*) as decimal(12,0))"


def _d18(e: str) -> str:
    """Widen an integer expression to decimal BEFORE any product/sum so the
    arithmetic runs in Spark's decimal domain end to end. ``sum(x * x)``
    over BIGINT columns multiplies AND accumulates in LONG — a cast applied
    to the finished sum is too late, and ANSI mode turns the silent wrap
    into ARITHMETIC_OVERFLOW at scale (observed: the sf0.1 lineitem price
    column, price_c^2 ~ 1e14 x 6e5 rows ~ 6e19 > 2^63). decimal(18,0) x
    decimal(18,0) -> decimal(38,0) exactly (18+18+1 <= 38, no precision
    loss), and decimal sums saturate at decimal(38,0) — overflow-safe to
    1e38, i.e. ~1e12 rows of 1e14-sized products with 12 digits to spare."""
    return f"cast({e} as decimal(18,0))"


def _guard_histogram(df: DataFrame, limit: int, what: str) -> DataFrame:
    """Loud-degradation guard for the cumulative-window-over-histogram
    discipline (r4 verdict watch item): the operators below run an
    UNPARTITIONED window over a per-distinct-value histogram — single
    task by design, bounded by feature cardinality, never corpus size.
    A continuous high-cardinality feature (raw doubles, timestamps)
    would silently turn that into a corpus-sized single-task sort; this
    makes it raise instead, telling the caller to bin first.

    Implementation: a full-frame window count + filter (the filter
    REFERENCES the guard column, so Catalyst cannot prune the check
    away); it costs one extra pass over the same single-partition input
    it protects — negligible at the sizes where it passes, and the
    whole point at the sizes where it doesn't."""
    from pyspark.sql import Window as W

    n = F.count("*").over(W.partitionBy())
    guarded = df.withColumn(
        "_hist_guard",
        F.when(n <= F.lit(int(limit)), F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{what}: "), n.cast("string"),
                    F.lit(
                        f" distinct values exceed the unpartitioned-window"
                        f" bound ({int(limit)}); bin/bucket the feature"
                        f" (e.g. equi_width_histogram) before this operator"
                    ),
                )
            )
        ),
    )
    return guarded.filter("_hist_guard").drop("_hist_guard")


def _sums(x: str, y: str) -> list:
    """Exact integer sufficient statistics for one (x, y) pair."""
    dx, dy = _d18(x), _d18(y)
    return [
        F.expr(_N).alias("n"),
        F.expr(f"cast(sum({dx}) as decimal(20,0))").alias("sx"),
        F.expr(f"cast(sum({dy}) as decimal(20,0))").alias("sy"),
        F.expr(f"cast(sum({dx} * {dx}) as decimal(26,0))").alias("sxx"),
        F.expr(f"cast(sum({dy} * {dy}) as decimal(26,0))").alias("syy"),
        F.expr(f"cast(sum({dx} * {dy}) as decimal(26,0))").alias("sxy"),
    ]


_COV_NUM = "cast(n * sxy - sx * sy as double)"
_VAR_X = "cast(n * sxx - sx * sx as double)"
_VAR_Y = "cast(n * syy - sy * sy as double)"


def grouped_ols(
    df: DataFrame,
    x_expr: str,
    y_expr: str,
    group_col: str = "grp",
) -> DataFrame:
    """Per-group simple linear regression y = slope * x + intercept.

    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2), intercept from the means —
    both ratios of exact decimal integers, rounded to 6dp. r2 is the
    squared Pearson correlation (0.0 when either variance is 0, matching
    the regr_* NULL-avoidance convention the oracle replays).

    Output: (grp, n, slope, intercept, r2).
    """
    g = df.selectExpr(
        f"{group_col} as grp",
        f"cast({x_expr} as bigint) as x",
        f"cast({y_expr} as bigint) as y",
    ).groupBy("grp").agg(*_sums("x", "y"))
    # nullif guards the constant-x group: ANSI Spark would throw
    # DIVIDE_BY_ZERO where DuckDB yields NULL — nullif makes both NULL
    slope = F.expr(f"{_COV_NUM} / nullif({_VAR_X}, 0.0d)")
    return g.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(
            (F.expr("cast(sy as double)") - slope * F.expr("cast(sx as double)"))
            / F.expr("cast(n as double)"),
            6,
        ).alias("intercept"),
        F.round(
            F.when(
                (F.expr(_VAR_X) > 0) & (F.expr(_VAR_Y) > 0),
                F.expr(_COV_NUM) * F.expr(_COV_NUM)
                / (F.expr(_VAR_X) * F.expr(_VAR_Y)),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("r2"),
    )


def corr_matrix(df: DataFrame, cols: dict[str, str]) -> DataFrame:
    """Pairwise Pearson correlation of named integer-valued expressions —
    one aggregate pass computes every pair's sufficient statistics, then
    the (k choose 2) correlations are projected from the single stats row
    (broadcast by construction: the aggregate output is ONE row).

    corr = (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2)) —
    numerator and both variance factors are exact decimal integers; each
    factor converts to double separately before sqrt so nothing exceeds
    decimal(38). Output: (col_a, col_b, corr) for every a < b pair.
    """
    names = sorted(cols)
    proj = [F.expr(f"cast({cols[c]} as bigint)").alias(c) for c in names]
    aggs = [F.expr(_N).alias("n")]
    for i, a in enumerate(names):
        aggs.append(
            F.expr(f"cast(sum({_d18(a)}) as decimal(20,0))").alias(f"s_{a}")
        )
        for b in names[i:]:
            # decimal-domain product BEFORE the sum (see _d18) — sum(a*b)
            # over BIGINT accumulates in LONG and overflows at sf>=0.1
            aggs.append(
                F.expr(
                    f"cast(sum({_d18(a)} * {_d18(b)}) as decimal(26,0))"
                ).alias(f"s_{a}_{b}")
            )
    stats = df.select(*proj).agg(*aggs)
    pairs = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            num = f"cast(n * s_{a}_{b} - s_{a} * s_{b} as double)"
            va = f"cast(n * s_{a}_{a} - s_{a} * s_{a} as double)"
            vb = f"cast(n * s_{b}_{b} - s_{b} * s_{b} as double)"
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.round(
                        F.expr(f"case when {va} > 0 and {vb} > 0 then "
                               f"{num} / (sqrt({va}) * sqrt({vb})) "
                               f"else 0.0 end"),
                        6,
                    ).alias("corr"),
                )
            )
    # all pairs project from the ONE aggregated stats row — a single scan
    # of the fact table, never one aggregate per pair
    return stats.select(F.explode(F.array(*pairs)).alias("p")).select("p.*")


def equi_width_histogram(
    df: DataFrame,
    value_expr: str,
    bins: int = 20,
    group_col: str | None = None,
) -> DataFrame:
    """Equi-width histogram with data-driven bounds: bucket i covers
    [lo + i*w, lo + (i+1)*w) with w = (hi − lo)/bins, the top bucket
    closed at hi. Empty buckets are emitted with n = 0 so the output is
    always exactly ``bins`` rows (per group) — a histogram with silent
    holes misleads downstream plotting.

    The bucket index floor((v − lo) * bins / (hi − lo)) is one IEEE
    double expression both engines evaluate identically (the established
    floor(expr) parity discipline), clamped to bins−1 for v == hi.

    Plan: one min/max aggregate (single broadcast row — the Q22 scalar
    pattern), one map-side-combinable count per bucket, then a
    sequence() explode of the bins-sized bucket list left-joins the
    counts in: the explode is O(bins * groups), never data-sized.
    Degenerate lo == hi puts every value in bucket 0."""
    gcols = [group_col] if group_col else []
    v = df.selectExpr(*gcols, f"cast({value_expr} as double) as v").filter(
        "v is not null"
    )
    bounds = v.groupBy(*gcols).agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    if group_col:
        vb = v.join(bounds, group_col)
    else:
        vb = v.crossJoin(F.broadcast(bounds))
    counts = (
        vb.select(
            *gcols,
            F.expr(
                f"case when hi = lo then 0 else "
                f"least({bins - 1}, cast(floor((v - lo) * {bins} / (hi - lo))"
                f" as int)) end"
            ).alias("bucket"),
        )
        .groupBy(*gcols, "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    shell = bounds.select(
        *gcols,
        "lo",
        "hi",
        F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("bucket"),
    )
    join_keys = gcols + ["bucket"]
    return (
        shell.join(counts, join_keys, "left")
        .select(
            *gcols,
            F.col("bucket").cast("int").alias("bucket"),
            F.round(
                F.expr(f"lo + bucket * (hi - lo) / {bins}"), 6
            ).alias("bucket_lo"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("n"),
        )
        .orderBy(*join_keys)
    )


_H60 = "cast(conv(substring(sha2({s}, 256), 1, 15), 16, 10) as bigint)"

_LNQ = "cast(round(ln({x}) * 1000000) as bigint)"
# ln quantized FIRST (the adamic_adar discipline, graphstats.py): a 1-ulp
# libm difference between the JVM and DuckDB flips round() only within
# ~2e-9 of a half-integer, so the downstream BIGINT sums are replayed
# bit-exactly by the oracle while a float log-prob sum would be
# partition-order dependent in its low bits.


def naive_bayes_classify(
    docs: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "nb-v1",
    train_pct: int = 80,
) -> DataFrame:
    """Multinomial Naive Bayes text classifier, trained and scored in one
    plan — the fastText-style quality/language classifier every LLM data
    pipeline runs (GPT-3's quality filter, CCNet's language buckets are
    this exact shape: linear scorer over token counts).

    Split is content-addressed (sha256(salt, id) % 100 < train_pct, the
    stratified_split discipline — stable under repartitioning and corpus
    growth). Training is ONE map-side-combinable aggregate: per
    (label, token) multiplicity counts, plus per-label token totals and
    doc priors. Scoring is add-one (Laplace) smoothed:

        score(d, l) = lnq(D_l) - lnq(D)
                    + sum_t k_t * (lnq(cnt(t,l) + 1) - lnq(T_l + V))

    with every ln quantized to integer micro-units BEFORE summation
    (see _LNQ), so per-(doc, label) scores are exact BIGINTs: the argmax
    is fully deterministic and the DuckDB oracle replays it bit-exactly.

    Scale shape: the model (labels x vocab counts) is vocabulary-sized —
    ~1e6 rows for a real tokenizer — and broadcasts; scoring is then one
    explode of the test corpus + a broadcast-hash join + one aggregate.
    Nothing shuffles on the corpus except the per-doc groupBy. The
    labels-per-token fan-out is |labels| (here 5), applied map-side.

    Output: (doc_id, label, pred, score_units, correct) for test docs,
    pred ties broken toward the lexicographically larger label (max of
    (score, label) struct — deterministic, documented).
    """
    b = F.expr(_H60.format(s=f"concat('{salt}', ',', cast({id_col} as string))")) % 100
    base = docs.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(label_col).cast("string").alias("label"),
        F.split(F.col(text_col), " ").alias("toks"),
        (b < train_pct).alias("is_train"),
    )
    train_toks = (
        base.filter("is_train")
        .select("label", F.explode("toks").alias("tok"))
    )
    model = train_toks.groupBy("label", "tok").agg(
        F.count("*").cast("long").alias("cnt")
    )
    # per-label totals + vocabulary size: two tiny aggregates, broadcast
    vocab = train_toks.select("tok").distinct().agg(
        F.count("*").cast("long").alias("v")
    )
    lstats = (
        model.groupBy("label").agg(F.sum("cnt").cast("long").alias("t_l"))
        .crossJoin(F.broadcast(vocab))
    )
    dprior = base.filter("is_train").groupBy("label").agg(
        F.count("*").cast("long").alias("d_l")
    )
    dtot = base.filter("is_train").agg(F.count("*").cast("long").alias("d"))
    lstats = (
        lstats.join(dprior, "label")
        .crossJoin(F.broadcast(dtot))
        .select(
            "label",
            F.expr(_LNQ.format(x="t_l + v")).alias("lnq_denom"),
            (F.expr(_LNQ.format(x="d_l")) - F.expr(_LNQ.format(x="d"))).alias(
                "prior_units"
            ),
        )
    )
    test_toks = (
        base.filter(~F.col("is_train"))
        .select("id", "label", F.explode("toks").alias("tok"))
        .groupBy("id", "label", "tok")
        .agg(F.count("*").cast("long").alias("k"))
    )
    scored = (
        test_toks.crossJoin(F.broadcast(lstats.select(F.col("label").alias("l"),
                                                      "lnq_denom", "prior_units")))
        .join(
            F.broadcast(model.select(F.col("label").alias("l"),
                                     "tok", "cnt")),
            ["l", "tok"],
            "left",
        )
        .groupBy("id", "label", "l", "prior_units")
        .agg(
            F.sum(
                F.col("k")
                * (
                    F.expr(_LNQ.format(x="coalesce(cnt, 0) + 1"))
                    - F.col("lnq_denom")
                )
            ).cast("long").alias("ll_units")
        )
        .select(
            "id", "label", "l",
            (F.col("prior_units") + F.col("ll_units")).alias("score_units"),
        )
    )
    best = scored.groupBy("id", "label").agg(
        F.max(F.struct("score_units", "l")).alias("b")
    )
    return best.select(
        F.col("id").alias("doc_id"),
        "label",
        F.col("b.l").alias("pred"),
        F.col("b.score_units").cast("long").alias("score_units"),
        (F.col("b.l") == F.col("label")).alias("correct"),
    )


def chi2_features(
    docs: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
    min_df: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Chi-squared (token, label) association — the classic supervised
    feature-selection statistic over the doc-level 2x2 contingency table
    (a = docs with token & label, b = with token not label, c = label
    without token, d = neither):

        chi2 = N * (a*d - b*c)^2 / ((a+b) * (c+d) * (a+c) * (b+d))

    a, b, c, d are derived from THREE count aggregates (per (token,label),
    per token, per label) — never a per-cell pass — and the statistic is a
    ratio of exact decimal integers with the final divide in double
    rounded to 6dp (the grouped_ols discipline; both engines divide the
    identical integers). Tokens present in every doc (c+d = 0) or every
    doc of the pair structure degenerate the denominator; the CASE guard
    yields 0.0 like the r2 convention above.

    Scale shape: presence is a distinct over (doc, token) — one shuffle of
    the exploded corpus; the per-token and per-label marginals are
    vocabulary- and label-sized and broadcast back onto the (token, label)
    table. min_df prunes the hapax tail BEFORE the join (at web scale the
    hapax tail IS most of the vocabulary). Output: top_n rows
    (token, label, a, chi2) by chi2 desc — a TakeOrderedAndProject.
    """
    pres = (
        docs.select(
            F.col(id_col).cast("string").alias("id"),
            F.col(label_col).cast("string").alias("label"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .distinct()
    )
    n_tot = docs.agg(F.count("*").cast("long").alias("n"))
    tl = pres.groupBy("tok", "label").agg(F.count("*").cast("long").alias("a"))
    tmarg = pres.groupBy("tok").agg(F.count("*").cast("long").alias("df_t")) \
        .filter(F.col("df_t") >= min_df)
    lmarg = (
        docs.select(F.col(label_col).cast("string").alias("label"))
        .groupBy("label").agg(F.count("*").cast("long").alias("n_l"))
    )
    cells = (
        tl.join(tmarg, "tok")  # inner: drops sub-min_df tokens before widening
        .join(F.broadcast(lmarg), "label")
        .crossJoin(F.broadcast(n_tot))
        .selectExpr(
            "tok", "label", "a", "df_t", "n_l", "n",
            "df_t - a as b", "n_l - a as c", "n - df_t - (n_l - a) as d",
        )
    )
    # exact decimal integers, final divide in double (grouped_ols pattern);
    # widen BEFORE the products — see _d18
    # headroom: a*d - b*c computes in BIGINT (|ad - bc| <= N^2, safe to
    # N ~ 3e9 docs) and the decimal(14) cast holds to N = 1e7; past that,
    # pre-aggregate per shard or widen — ANSI throws rather than wraps,
    # so the bound is enforced, not silent (the _d18 discipline).
    num = ("cast(n as decimal(12,0)) * cast(a*d - b*c as decimal(14,0)) "
           "* cast(a*d - b*c as decimal(14,0))")
    den = ("cast((a+b) as decimal(9,0)) * cast((c+d) as decimal(9,0)) "
           "* cast((a+c) as decimal(9,0)) * cast((b+d) as decimal(9,0))")
    return (
        cells.selectExpr(
            "tok", "label", "a",
            f"case when (a+b) > 0 and (c+d) > 0 and (a+c) > 0 and (b+d) > 0 "
            f"then round(cast({num} as double) / cast({den} as double), 6) "
            f"else 0.0d end as chi2",
        )
        .orderBy(F.desc("chi2"), "tok", "label")
        .limit(int(top_n))
    )


def decision_stump(
    df: DataFrame,
    x_expr: str = "cast(n_chars as bigint)",
    label_expr: str = "cast(lang = 'en' as int)",
    max_distinct: int = 500_000,
) -> DataFrame:
    """Best single-threshold decision stump (depth-1 CART split) on a
    numeric feature against a binary label, by exact Gini impurity
    reduction — the one-pass, all-aggregate baseline every distributed
    tree learner (XGBoost's approx split finding, Spark MLlib's own
    binning) reduces to per candidate split.

    Exactness: candidate thresholds are the DISTINCT feature values;
    per-value (count, positives) are exact integers from one map-side
    combinable groupBy; the cumulative (left-split) counts are a window
    over the distinct-value histogram ORDERED BY the value — histogram-
    sized, never corpus-sized. The Gini gain for split x <= t is then a
    fixed rational formula over those integers evaluated in double on
    both engines, rounded to 6 dp; the winner is argmax with a total
    (gain DESC, threshold ASC) tie-break.

    Scale shape: corpus-sized work is the per-value groupBy; everything
    after runs over the value histogram (bounded by feature cardinality
    — bin the feature first if it is continuous). No corpus-wide sort,
    no driver loop.

    Output: one row (threshold, n_left, pos_left, n_right, pos_right,
    gini_gain).
    """
    from pyspark.sql import Window as W

    hist = (
        df.selectExpr(f"{x_expr} as x", f"{label_expr} as y")
        .groupBy("x")
        .agg(
            F.count("*").cast("long").alias("c"),
            F.sum("y").cast("long").alias("p"),
        )
    )
    hist = _guard_histogram(hist, max_distinct, "decision_stump")
    w = W.orderBy("x").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.select(
        F.col("x").alias("threshold"),
        F.sum("c").over(w).cast("long").alias("n_left"),
        F.sum("p").over(w).cast("long").alias("pos_left"),
        F.sum("c").over(W.orderBy(F.lit(1))).cast("long").alias("n_tot"),
        F.sum("p").over(W.orderBy(F.lit(1))).cast("long").alias("pos_tot"),
    ).filter(F.col("n_left") < F.col("n_tot"))
    gini = cum.selectExpr(
        "threshold",
        "n_left",
        "pos_left",
        "n_tot - n_left as n_right",
        "pos_tot - pos_left as pos_right",
        # parent impurity minus weighted child impurity; every ratio is
        # exact-int / exact-int in double, same formula both engines
        "round("
        " (2.0d * pos_tot / n_tot * (1.0d - cast(pos_tot as double) / n_tot))"
        " - (cast(n_left as double) / n_tot)"
        "   * (2.0d * pos_left / n_left * (1.0d - cast(pos_left as double) / n_left))"
        " - (cast(n_tot - n_left as double) / n_tot)"
        "   * (2.0d * (pos_tot - pos_left) / (n_tot - n_left)"
        "      * (1.0d - cast(pos_tot - pos_left as double) / (n_tot - n_left)))"
        ", 6) as gini_gain",
    )
    return gini.orderBy(F.desc("gini_gain"), "threshold").limit(1)


def roc_auc(
    df: DataFrame,
    score_expr: str = "cast(n_chars as bigint)",
    label_expr: str = "cast(lang = 'en' as int)",
    max_distinct: int = 500_000,
) -> DataFrame:
    """EXACT ROC AUC of a numeric score against a binary label via the
    Mann-Whitney rank statistic — the classifier-quality metric every
    data-quality model (fastText filters, CCNet perplexity gates) is
    tuned by, computed without materializing a single threshold sweep.

    Ties are handled by midrank, and the whole statistic stays INTEGER
    until the final divide: per distinct score s with c docs (p of them
    positive), the doubled midrank is (2*cum_before + c + 1), so
    2*R1 = sum_s p_s * (2*cum_before_s + c_s + 1) is an exact BIGINT and
    AUC = (2*R1 - n1*(n1+1)) / (2*n1*n0) is one exact-int ratio rounded
    to 6 dp — bit-identical on both engines, no float accumulation.

    Scale shape: one map-side combinable groupBy(score) histogram, a
    cumulative window over the DISTINCT-score histogram (decision_stump
    discipline — histogram-sized, never corpus-sized), one final
    aggregate. Output: single row (n_pos, n_neg, auc).
    """
    from pyspark.sql import Window as W

    hist = (
        df.selectExpr(f"{score_expr} as s", f"{label_expr} as y")
        .groupBy("s")
        .agg(
            F.count("*").cast("long").alias("c"),
            F.sum("y").cast("long").alias("p"),
        )
    )
    hist = _guard_histogram(hist, max_distinct, "roc_auc")
    w = W.orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    ranked = hist.select(
        "c",
        "p",
        F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long").alias("cb"),
    )
    return (
        ranked.agg(
            F.sum("p").cast("long").alias("n_pos"),
            (F.sum("c") - F.sum("p")).cast("long").alias("n_neg"),
            F.sum(F.expr("p * (2 * cb + c + 1)")).cast("long").alias("r1x2"),
        )
        .selectExpr(
            "n_pos",
            "n_neg",
            "round(cast(r1x2 - n_pos * (n_pos + 1) as double)"
            " / (2.0d * n_pos * n_neg), 6) as auc",
        )
    )


def association_rules(
    baskets: DataFrame,
    basket_col: str = "g",
    item_col: str = "item",
    min_support: int = 3,
    max_basket: int = 50,
    top_n: int = 50,
) -> DataFrame:
    """Market-basket association rules over (basket, item) pairs: for
    each ordered item pair a -> b with pair support >= ``min_support``,
    exact confidence supp(ab)/supp(a) and lift n*supp(ab)/(supp(a)*
    supp(b)) — the co-occurrence analytics surface (recommendation
    candidates, query expansion) on the same capped bipartite projection
    the graph suite uses.

    Exactness: supports are integer counts; confidence/lift are single
    exact-int ratios in double rounded to 6 dp; the top-N order is total
    (lift DESC, a, b).

    Scale shape: basket-size cap BEFORE the quadratic per-basket pair
    expansion (the graphstats projection discipline), pair counting as
    one map-side combinable groupBy, item supports broadcast back onto
    the pair table.
    """
    from pyspark.sql import Window as W

    b = baskets.select(
        F.col(basket_col).alias("g"), F.col(item_col).alias("item")
    ).distinct()
    kept = (
        b.withColumn("sz", F.count("*").over(W.partitionBy("g")))
        .filter(F.col("sz") <= int(max_basket))
        .drop("sz")
    )
    n_baskets = kept.select("g").distinct().count()
    supp = kept.groupBy("item").agg(F.count("*").cast("long").alias("s"))
    x = kept.alias("x")
    y = kept.alias("y")
    pairs = (
        x.join(y, (F.col("x.g") == F.col("y.g"))
               & (F.col("x.item") != F.col("y.item")))
        .groupBy(F.col("x.item").alias("a"), F.col("y.item").alias("b"))
        .agg(F.count("*").cast("long").alias("s_ab"))
        .filter(F.col("s_ab") >= int(min_support))
    )
    sa = supp.select(F.col("item").alias("a"), F.col("s").alias("s_a"))
    sb = supp.select(F.col("item").alias("b"), F.col("s").alias("s_b"))
    return (
        pairs.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .selectExpr(
            "a", "b", "s_ab", "s_a", "s_b",
            "round(cast(s_ab as double) / s_a, 6) as confidence",
            f"round({int(n_baskets)}.0d * s_ab / (cast(s_a as double) * s_b),"
            " 6) as lift",
        )
        .orderBy(F.desc("lift"), "a", "b")
        .limit(int(top_n))
    )


def pca2(
    df: DataFrame,
    x_expr: str,
    y_expr: str,
    group_col: str = "grp",
) -> DataFrame:
    """Closed-form PCA of a 2-feature covariance matrix per group — the
    degenerate-but-exact case of distributed PCA: the grouped sufficient
    statistics (the only corpus-sized work, one map-side combinable
    aggregate of exact decimal integers — the grouped_ols discipline)
    determine the 2x2 covariance matrix, whose eigenstructure has a
    closed form: lambda± = ((a+c) ± sqrt((a-c)^2 + 4 b^2)) / 2 and
    principal angle theta = atan2(2b, a-c) / 2. No iteration, no
    driver-side linear algebra, and every double derives from the same
    exact integers through the same formula on both engines (6 dp).

    At higher dimension d the same shape holds: the d x d Gram matrix is
    one aggregate (d^2 sums), tiny against the corpus; only the eigen
    step changes. Output: (grp, n, var_x, var_y, cov_xy, theta,
    explained) with explained = lambda1 / (lambda1 + lambda2), 1.0 when
    the trace is 0 (both features constant).
    """
    stats = df.groupBy(F.expr(group_col).alias("grp")).agg(
        *_sums(x_expr, y_expr)
    )
    # population (divide-by-n) covariance entries from exact stats
    a = f"({_VAR_X} / n / n)"
    c = f"({_VAR_Y} / n / n)"
    b = f"({_COV_NUM} / n / n)"
    lam_gap = f"sqrt(({a} - {c}) * ({a} - {c}) + 4.0d * {b} * {b})"
    return stats.selectExpr(
        "grp",
        "cast(n as bigint) as n",
        f"round({a}, 6) as var_x",
        f"round({c}, 6) as var_y",
        f"round({b}, 6) as cov_xy",
        f"round(atan2(2.0d * {b}, {a} - {c}) / 2.0d, 6) as theta",
        f"case when ({a} + {c}) > 0.0d then "
        f"round((({a} + {c}) + {lam_gap}) / (2.0d * ({a} + {c})), 6) "
        f"else 1.0d end as explained",
    )


def lorenz_deciles(
    df: DataFrame,
    value_expr: str = "cast(n_chars as bigint)",
    id_expr: str = "cast(doc_id as bigint)",
) -> DataFrame:
    """Lorenz curve at decile resolution over a non-negative value — the
    inequality profile (is 10% of the corpus carrying 90% of the bytes?)
    that decides mixture reweighting and shard budgeting. Docs are
    ranked by (value, id) — a TOTAL order, so ntile is deterministic —
    and each decile reports its exact integer mass plus the cumulative
    share of the total.

    Exactness: per-decile sums and the running cumulative are exact
    BIGINTs; only the final share divides (6 dp). The rank is
    ``functions/rank.py:global_rank`` and the decile its ``ntile(10)``
    replay; everything after is decile-cardinality-sized.
    """
    from pyspark.sql import Window as W

    d = df.selectExpr(f"{value_expr} as x", f"{id_expr} as id")
    t = global_rank(d, "x", "id").select(
        "x", ntile("rank", "n", 10).alias("decile")
    )
    per = t.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("x").cast("long").alias("sum_x"),
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    tot = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    return per.select(
        "decile",
        "n_docs",
        "sum_x",
        F.sum("sum_x").over(w).cast("long").alias("cum_x"),
        F.round(
            F.sum("sum_x").over(w) / F.sum("sum_x").over(tot).cast("double"),
            6,
        ).alias("cum_share"),
    )


def classifier_metrics(
    pred: DataFrame,
    label_col: str = "label",
    pred_col: str = "pred",
) -> DataFrame:
    """Per-class precision / recall / F1 from a (label, pred) table — the
    evaluation half of every quality/language classifier loop
    (naive_bayes_classify's holdout feeds this directly).

    Exactness: the confusion cells are exact integer counts from ONE
    map-side combinable groupBy(label, pred); tp / n_true / n_pred per
    class come from two class-sized rollups of those cells, and the
    metrics are fixed integer ratios in double rounded to 6 dp with
    zero-denominator guards (a class never predicted has precision 0).

    Scale shape: corpus-sized work is the single cell count; everything
    downstream is class-cardinality-sized. Classes = the union of true
    and predicted labels (full outer), so a hallucinated class still
    surfaces with recall 0 rather than vanishing.
    """
    cells = pred.groupBy(
        F.col(label_col).alias("label"), F.col(pred_col).alias("p")
    ).agg(F.count("*").cast("long").alias("n"))
    by_true = cells.groupBy(F.col("label").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_true"),
        F.sum(F.expr("case when p = label then n else 0 end"))
        .cast("long").alias("tp"),
    )
    by_pred = cells.groupBy(F.col("p").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    j = by_true.join(by_pred, "cls", "full_outer").selectExpr(
        "cls",
        "coalesce(tp, 0L) as tp",
        "coalesce(n_true, 0L) as n_true",
        "coalesce(n_pred, 0L) as n_pred",
    )
    return j.selectExpr(
        "cls", "tp", "n_true", "n_pred",
        "case when n_pred > 0 then round(cast(tp as double) / n_pred, 6)"
        " else 0.0d end as precision",
        "case when n_true > 0 then round(cast(tp as double) / n_true, 6)"
        " else 0.0d end as recall",
        "case when (n_pred + n_true) > 0 then"
        " round(2.0d * tp / (n_pred + n_true), 6)"
        " else 0.0d end as f1",
    )


def psi_drift(
    df: DataFrame,
    value_expr: str = "cast(n_chars as bigint)",
    id_col: str = "doc_id",
    salt: str = "psi-v1",
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index between two content-addressed halves of
    a corpus — the standard feature-drift monitor (PSI < 0.1 stable,
    > 0.25 action): did the distribution of a feature shift between two
    snapshots/shards? Here the halves come from the deterministic
    sha256(salt, id) % 100 draw (the stratified_split discipline), so the
    check replays exactly; in production the two sides are yesterday's
    and today's shard.

    Exactness: shared equi-width bins from the GLOBAL min/max (the
    equi_width_histogram floor-expression discipline), exact integer bin
    counts per side, and PSI = sum((p-q) * ln(p/q)) over bins populated
    on BOTH sides — one-sided bins are reported as counts instead of
    being epsilon-fudged into the sum (the usual silent hack), so the
    statistic stays exactly replayable.

    Scale shape: one min/max broadcast row, one map-side combinable
    (side, bin) count, bin-sized everything after.

    Output: one row (n_a, n_b, n_bins_both, n_bins_a_only,
    n_bins_b_only, psi).
    """
    from knowledgegraphbuilder_spark.operators.curation import _H60

    b = int(bins)
    side = (
        F.expr(_H60.format(
            s=f"concat('{salt}', ',', cast({id_col} as string))"
        )) % 100 < 50
    )
    d = df.select(
        F.expr(value_expr).cast("double").alias("v"),
        F.when(side, "a").otherwise("b").alias("side"),
    )
    mm = d.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    binned = d.crossJoin(F.broadcast(mm)).selectExpr(
        "side",
        f"case when hi > lo then least(cast(floor((v - lo) * {b}"
        f" / (hi - lo)) as int), {b - 1}) else 0 end as bin",
    )
    cells = (
        binned.groupBy("bin")
        .agg(
            F.sum(F.expr("case when side = 'a' then 1 else 0 end"))
            .cast("long").alias("ca"),
            F.sum(F.expr("case when side = 'b' then 1 else 0 end"))
            .cast("long").alias("cb"),
        )
    )
    tot = cells.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    # broadcast the one-row totals back onto the bin table; the summand
    # is one fixed formula over exact integers (bin-sized float sum)
    term = (
        "case when ca > 0 and cb > 0 then"
        " (cast(ca as double) / n_a - cast(cb as double) / n_b)"
        " * ln((cast(ca as double) / n_a) / (cast(cb as double) / n_b))"
        " else 0.0d end"
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(
            F.sum(F.expr("case when ca > 0 and cb > 0 then 1 else 0 end"))
            .cast("long").alias("n_bins_both"),
            F.sum(F.expr("case when ca > 0 and cb = 0 then 1 else 0 end"))
            .cast("long").alias("n_bins_a_only"),
            F.sum(F.expr("case when ca = 0 and cb > 0 then 1 else 0 end"))
            .cast("long").alias("n_bins_b_only"),
            F.round(F.sum(F.expr(term)), 6).alias("psi"),
        )
        .select("n_a", "n_b", "n_bins_both", "n_bins_a_only",
                "n_bins_b_only", "psi")
    )


def grouped_ols2(
    df: DataFrame,
    x1_expr: str,
    x2_expr: str,
    y_expr: str,
    group_col: str = "grp",
) -> DataFrame:
    """Per-group TWO-feature linear regression y = b1*x1 + b2*x2 + c by
    closed-form normal equations (Cramer's rule on the centered 2x2
    system) — the multivariate step past grouped_ols, still ONE
    map-side-combinable aggregate of exact decimal sufficient statistics
    and zero iteration.

    The centered matrix entries (n*S11 - S1^2, ...) are exact decimal
    integers; each converts to double SEPARATELY before the Cramer
    combination (the corr_matrix split discipline — products of two
    38-digit decimals would overflow the decimal domain), and both
    engines evaluate the identical double formula, 6 dp. det == 0
    (collinear or constant features) yields null coefficients via
    nullif, matching DuckDB's null-division convention.

    Output: (grp, n, b1, b2, intercept).
    """
    dx1, dx2, dy = _d18("x1"), _d18("x2"), _d18("y")
    g = df.selectExpr(
        f"{group_col} as grp",
        f"cast({x1_expr} as bigint) as x1",
        f"cast({x2_expr} as bigint) as x2",
        f"cast({y_expr} as bigint) as y",
    ).groupBy("grp").agg(
        F.expr(_N).alias("n"),
        F.expr(f"cast(sum({dx1}) as decimal(20,0))").alias("s1"),
        F.expr(f"cast(sum({dx2}) as decimal(20,0))").alias("s2"),
        F.expr(f"cast(sum({dy}) as decimal(20,0))").alias("sy"),
        F.expr(f"cast(sum({dx1} * {dx1}) as decimal(26,0))").alias("s11"),
        F.expr(f"cast(sum({dx2} * {dx2}) as decimal(26,0))").alias("s22"),
        F.expr(f"cast(sum({dx1} * {dx2}) as decimal(26,0))").alias("s12"),
        F.expr(f"cast(sum({dx1} * {dy}) as decimal(26,0))").alias("s1y"),
        F.expr(f"cast(sum({dx2} * {dy}) as decimal(26,0))").alias("s2y"),
    )
    a11 = "cast(n * s11 - s1 * s1 as double)"
    a22 = "cast(n * s22 - s2 * s2 as double)"
    a12 = "cast(n * s12 - s1 * s2 as double)"
    b1v = "cast(n * s1y - s1 * sy as double)"
    b2v = "cast(n * s2y - s2 * sy as double)"
    det = f"({a11} * {a22} - {a12} * {a12})"
    beta1 = f"(({b1v} * {a22} - {b2v} * {a12}) / nullif({det}, 0.0d))"
    beta2 = f"(({b2v} * {a11} - {b1v} * {a12}) / nullif({det}, 0.0d))"
    return g.selectExpr(
        "grp",
        "cast(n as bigint) as n",
        f"round({beta1}, 6) as b1",
        f"round({beta2}, 6) as b2",
        f"round((cast(sy as double) - {beta1} * cast(s1 as double)"
        f" - {beta2} * cast(s2 as double)) / cast(n as double), 6)"
        f" as intercept",
    )


def mann_whitney(
    df: DataFrame,
    score_expr: str = "cast(n_chars as bigint)",
    side_expr: str = "side",
    max_distinct: int = 500_000,
) -> DataFrame:
    """Two-sample Mann-Whitney U test (tie-corrected normal z) — the
    nonparametric companion to Welch's t: does group a's score
    distribution stochastically dominate group b's, without assuming
    normality. The distribution-free location test every data-quality
    comparison (filtered vs unfiltered shard, source A vs source B)
    reaches for when lengths/scores are skewed.

    Exactness (roc_auc discipline — the U statistic IS the AUC
    numerator): per distinct score s with c rows (a of them in group a),
    the DOUBLED midrank is 2*cb + c + 1, so 2*R_a is an exact integer
    sum; 2*U_a = 2*R_a - n_a*(n_a+1) stays integer, and the tie
    correction T = sum(c^3 - c) is an exact decimal sum. The z statistic
    is ONE fixed double formula over those integers, rounded to 6 dp —
    bit-identical on both engines, no float accumulation.

    Scale shape: one map-side combinable groupBy(score) histogram, one
    cumulative window over the DISTINCT-score histogram
    (histogram-sized, never corpus-sized), one final aggregate. Output:
    a single row. Decimal(38) headroom holds to ~1e12 rows.
    """
    from pyspark.sql import Window as W

    hist = (
        df.selectExpr(f"{score_expr} as s", f"cast({side_expr} as int) as y")
        .groupBy("s")
        .agg(
            F.count("*").cast("long").alias("c"),
            F.sum("y").cast("long").alias("a"),
        )
    )
    hist = _guard_histogram(hist, max_distinct, "mann_whitney")
    w = W.orderBy("s").rowsBetween(W.unboundedPreceding, -1)
    ranked = hist.select(
        "c",
        "a",
        F.coalesce(F.sum("c").over(w), F.lit(0)).cast("long").alias("cb"),
    )
    stats = ranked.agg(
        F.sum("a").cast("long").alias("n_a"),
        (F.sum("c") - F.sum("a")).cast("long").alias("n_b"),
        # doubled rank-sum of group a — decimal domain BEFORE the product
        # (the _d18 lesson: bigint*bigint accumulates in LONG)
        F.expr(
            "cast(sum(cast(a as decimal(14,0))"
            " * cast(2 * cb + c + 1 as decimal(16,0))) as decimal(32,0))"
        ).alias("r1x2"),
        # tie term sum(c^3 - c): decimal(12)^3 -> decimal(38), exact
        F.expr(
            "cast(sum(cast(c as decimal(12,0)) * cast(c as decimal(12,0))"
            " * cast(c as decimal(12,0)) - c) as decimal(38,0))"
        ).alias("ties"),
    )
    return stats.selectExpr(
        "n_a",
        "n_b",
        # 2*U_a = 2*R_a - n_a*(n_a+1) — exact integer, bigint-safe output
        # at any SF this sandbox runs (value <= 2 * n_a * n)
        "cast(r1x2 - cast(n_a as decimal(20,0)) * (n_a + 1) as bigint)"
        " as u_x2",
        # z = (U_a - n_a*n_b/2) / sqrt(n_a*n_b/12 * ((n+1) - T/(n*(n-1))))
        # with the zero-variance (all scores tied) guard via nullif
        "round((0.5d * cast(r1x2 - cast(n_a as decimal(20,0)) * (n_a + 1)"
        "         as double)"
        "  - 0.5d * cast(n_a as double) * n_b)"
        " / nullif(sqrt(cast(n_a as double) * n_b / 12.0d"
        "   * ((cast(n_a + n_b as double) + 1.0d)"
        "      - cast(ties as double)"
        "        / (cast(n_a + n_b as double)"
        "           * (cast(n_a + n_b as double) - 1.0d)))), 0.0d), 6)"
        " as z",
    )


def spearman(
    df: DataFrame,
    x_expr: str,
    y_expr: str,
    max_distinct: int = 500_000,
) -> DataFrame:
    """Spearman rank correlation rho between two numeric expressions —
    the monotone-association measure that survives outliers and
    nonlinearity (Pearson's corr_matrix complement). Ties get average
    ranks (midranks), the textbook tie treatment.

    Exactness: each variable's DOUBLED midrank (2*cb + c + 1 per
    distinct value — integer) is joined back to the rows, then Pearson
    runs over the doubled midranks via the exact decimal sufficient
    statistics of _sums; doubling cancels in the correlation. One fixed
    double formula at the end, 6 dp.

    Scale shape: two map-side combinable value histograms + cumulative
    windows over the DISTINCT-value histograms (histogram-sized), two
    equi-joins of rows against histogram-sized rank tables, one
    aggregate. No corpus-sized window (a naive rank() over all rows
    would single-partition); decimal(38) headroom holds to ~1e9 rows of
    doubled midranks <= 2e9 (re-bucket scores first beyond that).
    """
    from pyspark.sql import Window as W

    rows = df.selectExpr(f"{x_expr} as x", f"{y_expr} as y")

    def midranks(col: str) -> DataFrame:
        hist = rows.groupBy(col).agg(F.count("*").cast("long").alias("c"))
        hist = _guard_histogram(hist, max_distinct, "spearman")
        w = W.orderBy(col).rowsBetween(W.unboundedPreceding, -1)
        return hist.select(
            col,
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c") + 1
            ).cast("long").alias(f"m{col}"),
        )

    j = rows.join(midranks("x"), "x").join(midranks("y"), "y")
    stats = j.agg(*_sums("mx", "my"))
    return stats.selectExpr(
        "cast(n as bigint) as n",
        f"round(case when {_VAR_X} > 0 and {_VAR_Y} > 0 then "
        f"{_COV_NUM} / (sqrt({_VAR_X}) * sqrt({_VAR_Y})) "
        f"else null end, 6) as rho",
    )


def kendall_tau(
    df: DataFrame,
    x_expr: str,
    y_expr: str,
    id_expr: str,
) -> DataFrame:
    """Kendall tau-b rank correlation with tie correction — the
    pair-concordance association measure (more robust to a few wild
    ranks than Spearman, and the one with a direct probabilistic
    reading: P(concordant) - P(discordant)).

    tau-b = (C - D) / sqrt((n0 - n1) * (n0 - n2)) with n0 = n(n-1)/2,
    n1/n2 the tie-pair counts of x/y. C and D come from an explicit
    a < b pair join — intrinsically O(n^2), which is why the CALLER
    passes a deterministic hash sample (the ml_knnclass discipline:
    quadratic work is opt-in and sample-sized, never corpus-sized).
    Tie-pair counts come from value histograms (linear). Every count is
    an exact integer; tau is one fixed double formula, 6 dp.

    Output: one row (n, n_pairs, concordant, discordant, tau).
    """
    rows = df.selectExpr(
        f"{id_expr} as id", f"{x_expr} as x", f"{y_expr} as y"
    )
    a = rows.selectExpr("id as id_a", "x as xa", "y as ya")
    b = rows.selectExpr("id as id_b", "x as xb", "y as yb")
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    cd = pairs.agg(
        F.sum(
            F.expr("cast((xa - xb) * (ya - yb) > 0 as int)")
        ).cast("long").alias("c"),
        F.sum(
            F.expr("cast((xa - xb) * (ya - yb) < 0 as int)")
        ).cast("long").alias("d"),
    )
    tx = (
        rows.groupBy("x").agg(F.count("*").cast("long").alias("t"))
        .agg(F.sum(F.expr("t * (t - 1)")).cast("long").alias("n1x2"))
    )
    ty = (
        rows.groupBy("y").agg(F.count("*").cast("long").alias("t"))
        .agg(F.sum(F.expr("t * (t - 1)")).cast("long").alias("n2x2"))
    )
    n = rows.agg(F.count("*").cast("long").alias("n"))
    out = (
        cd.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(n))
    )
    return out.selectExpr(
        "n",
        "cast(n * (n - 1) / 2 as bigint) as n_pairs",
        "c as concordant",
        "d as discordant",
        # doubled tie counts cancel against doubled n0
        "round(cast(c - d as double)"
        " / nullif(sqrt((cast(n as double) * (n - 1) - n1x2) / 2.0d)"
        "   * sqrt((cast(n as double) * (n - 1) - n2x2) / 2.0d), 0.0d),"
        " 6) as tau",
    )


# Poisson(1) inverse-CDF thresholds on a 60-bit uniform, written as
# EXACT integer literals (floor(CDF * 2^60)) so both engines compare
# the same integers — never a float CDF at eval time.
_POIS_CUM = [
    424136118829305344,   # P(X=0)=e^-1
    848272237658610688,   # P(X<=1)
    1060340297073263360,  # P(X<=2)
    1131029650211480960,  # P(X<=3)
    1148701988496035328,  # P(X<=4)
    1152236456152946176,  # P(X<=5)
    1152825534095764608,  # P(X<=6)
]


def poisson_bootstrap_mean(
    df: DataFrame,
    value_expr: str,
    id_expr: str,
    replicates: int = 32,
    salt: str = "boot-v1",
) -> DataFrame:
    """Poisson bootstrap of the mean — THE distributed bootstrap: the
    multinomial resample is approximated by giving every row an
    independent Poisson(1) weight per replicate, which needs no global
    coordination (each row draws its weights from a content hash) and
    is exact in distribution as n grows. One scatter of B replicate
    rows per input row, one groupBy(replicate), one tiny sort of the B
    replicate means for the percentile interval.

    Determinism: the uniform is the usual 60-bit sha256 hash of
    (salt, replicate, id); the Poisson(1) inverse CDF is a CASE ladder
    over PRECOMPUTED integer thresholds (floor(cdf * 2^60) literals) —
    both engines compare identical integers, no float CDF at eval time.
    Weighted sums stay exact integers when the value is integer.

    Output: one row (n, b, mean_full, boot_lo, boot_hi, boot_se) where
    lo/hi are the 2nd-smallest / 2nd-largest replicate means (a ~94%
    interval at B=32) and boot_se is the replicate-mean stdev.
    """
    b = int(replicates)
    rows = df.selectExpr(f"{id_expr} as id", f"{value_expr} as v")
    reps = rows.select(
        "id", "v",
        F.explode(F.expr(f"sequence(0, {b - 1})")).alias("r"),
    )
    h60 = ("cast(conv(substring(sha2(concat("
           f"'{salt}', ',', cast(r as string), ',', cast(id as string)"
           "), 256), 1, 15), 16, 10) as bigint)")
    ladder = "case "
    for k, thr in enumerate(_POIS_CUM):
        ladder += f"when {h60} < {thr} then {k} "
    ladder += f"else {len(_POIS_CUM)} end"
    weighted = reps.select(
        "r", "v", F.expr(ladder).cast("long").alias("w")
    )
    means = weighted.groupBy("r").agg(
        F.sum(F.expr("v * w")).cast("long").alias("sv"),
        F.sum("w").cast("long").alias("sw"),
    ).selectExpr("r", "cast(sv as double) / nullif(sw, 0) as m")
    from pyspark.sql import Window as W

    ranked = means.select(
        "m",
        F.row_number().over(W.orderBy(F.col("m").asc())).alias("rk"),
    )
    stats = ranked.agg(
        F.count("*").cast("long").alias("bn"),
        F.max(F.when(F.col("rk") == 2, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("rk") == b - 1, F.col("m"))).alias("hi"),
        F.sum("m").alias("sm"),
        F.sum(F.expr("m * m")).alias("smm"),
    )
    full = rows.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sv"),
    )
    return stats.crossJoin(F.broadcast(full)).selectExpr(
        "n",
        "bn as b",
        "round(cast(sv as double) / n, 6) as mean_full",
        "round(lo, 6) as boot_lo",
        "round(hi, 6) as boot_hi",
        "round(sqrt((smm - sm * sm / bn) / (bn - 1)), 6) as boot_se",
    )


def ndcg_at_k(
    df: DataFrame,
    k: int = 10,
    group_col: str = "group",
    score_col: str = "score",
    grade_col: str = "grade",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group NDCG@k of a ranking (``score_col`` desc, ``id_col`` asc)
    against integer graded relevance ``grade_col`` (0..g): the standard
    offline retrieval-quality metric. gain = 2^grade - 1 (exact integer),
    discount = 1/log2(pos+1); IDCG ranks by (grade desc, id asc). Both
    windows PARTITION BY the group — no global sort — and only the k
    kept rows per group enter the float sum, so the double accumulation
    is k-term and order-fixed by the grouped sum of at most k values
    (6-dp round absorbs re-association). Scale shape: two grouped
    windows + one grouped agg; output is group-cardinality-sized.
    """
    from pyspark.sql import Window as W

    g = F.col(group_col)
    ranked = df.select(
        g.alias("g"),
        F.col(id_col).alias("i"),
        F.row_number().over(
            W.partitionBy(group_col)
            .orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        ).alias("pos"),
        F.row_number().over(
            W.partitionBy(group_col)
            .orderBy(F.col(grade_col).desc(), F.col(id_col).asc())
        ).alias("ipos"),
        # SQL shiftleft takes a column bit count (the python wrapper
        # insists on a literal int): gain = 2^grade - 1 stays integer
        F.expr(f"shiftleft(1L, cast({grade_col} as int)) - 1L")
        .cast("long").alias("gain"),
    )
    per = ranked.groupBy("g").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.when(
                F.col("pos") <= k,
                F.col("gain") / F.log2(F.col("pos") + 1),
            ).otherwise(F.lit(0.0))
        ).alias("dcg"),
        F.sum(
            F.when(
                F.col("ipos") <= k,
                F.col("gain") / F.log2(F.col("ipos") + 1),
            ).otherwise(F.lit(0.0))
        ).alias("idcg"),
    )
    return per.selectExpr(
        f"g as {group_col}",
        "n_docs",
        "round(dcg, 6) as dcg",
        "round(idcg, 6) as idcg",
        "round(dcg / nullif(idcg, 0.0d), 6) as ndcg",
    )


def calibration_bins(
    df: DataFrame,
    p_int_expr: str,
    y_expr: str,
    scale: int = 999,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins + per-bin Brier score from an INTEGER
    score ``p_int_expr`` in [0, scale] (probability p = pi/scale) and a
    0/1 label ``y_expr``. Every statistic is an exact integer sum until
    one final divide: mean_p = S(pi)/(scale*n), Brier expands as
    (S(pi^2) - 2*scale*S(pi*y) + scale^2*S(y)) / (scale^2 * n) — so both
    engines divide identical integers and the 6-dp values match bit-for-
    bit. One map-side-combinable aggregate; output is n_bins rows.
    """
    w = (scale + 1 + n_bins - 1) // n_bins
    per = df.selectExpr(
        f"cast({p_int_expr} as bigint) as pi",
        f"cast({y_expr} as bigint) as y",
    ).selectExpr(f"pi div {w} as bin", "pi", "y")
    return (
        per.groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("pi").cast("long").alias("sp"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.expr("pi * pi")).cast("long").alias("spp"),
            F.sum(F.expr("pi * y")).cast("long").alias("spy"),
        )
        .selectExpr(
            "cast(bin as bigint) as bin",
            "n",
            f"round(cast(sp as double) / ({scale}.0d * n), 6) as mean_p",
            "round(cast(sy as double) / n, 6) as frac_pos",
            f"round((cast(spp as double) - 2.0d * {scale} * spy"
            f" + {scale}.0d * {scale} * sy)"
            f" / ({scale}.0d * {scale} * n), 6) as brier",
        )
    )


def cohens_kappa(
    df: DataFrame,
    truth_expr: str,
    pred_expr: str,
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two categorical
    labelers (the standard inter-annotator / model-vs-gold agreement
    statistic an eval pipeline reports next to raw accuracy).

    Exactness: kappa = (N*sum_diag - S) / (N^2 - S) with
    S = sum_l row_l * col_l — EVERY term is an exact integer (one
    map-side-combinable count per (truth, pred) cell, then marginals),
    so both engines perform one identical final divide. Output one row:
    (n, n_agree, accuracy, kappa). Scale shape: two tiny grouped counts
    over the cell table; nothing larger than the label-cardinality
    square ever shuffles.
    """
    ct = (
        df.selectExpr(f"{truth_expr} as t", f"{pred_expr} as p")
        .groupBy("t", "p")
        .agg(F.count("*").cast("long").alias("c"))
    )
    rows = ct.groupBy("t").agg(F.sum("c").alias("rl"))
    cols = ct.groupBy("p").agg(F.sum("c").alias("cl"))
    s = (
        rows.join(cols, rows["t"] == cols["p"])
        .agg(F.sum(F.expr("cast(rl as decimal(38,0)) * cl")).alias("s"))
    )
    base = ct.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("t") == F.col("p"), F.col("c")).otherwise(0))
        .cast("long").alias("n_agree"),
    )
    # products widen to decimal(38,0): n ~ 1e12 rows makes n*n overflow
    # a long, and ANSI mode turns that into a job-killing error
    return base.crossJoin(F.broadcast(s)).selectExpr(
        "n",
        "n_agree",
        "round(cast(n_agree as double) / n, 6) as accuracy",
        "round(cast(cast(n as decimal(38,0)) * n_agree - s as double)"
        " / cast(cast(n as decimal(38,0)) * n - s as double), 6) as kappa",
    )


def mcnemar(
    df: DataFrame,
    truth_expr: str,
    pred_a_expr: str,
    pred_b_expr: str,
) -> DataFrame:
    """McNemar's paired test — do two classifiers (or two cutoffs of one
    score) disagree more than chance on the SAME examples? The test an
    eval pipeline runs before declaring model B better than model A on a
    shared eval set. Only the discordant pairs matter: b = A right & B
    wrong, c = A wrong & B right, statistic (b - c)^2 / (b + c)
    (chi-square, 1 df; null -> b ~ c).

    Exactness: b and c are exact integer counts from one
    map-side-combinable aggregate; the statistic is one divide. Output
    one row: (n, b_only_a, c_only_b, mcnemar_chi2).
    """
    m = df.selectExpr(
        f"cast({truth_expr} as boolean) as y",
        f"cast({pred_a_expr} as boolean) as a",
        f"cast({pred_b_expr} as boolean) as b",
    )
    return m.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.expr("case when a = y and b <> y then 1 else 0 end"))
        .cast("long").alias("b_only_a"),
        F.sum(F.expr("case when a <> y and b = y then 1 else 0 end"))
        .cast("long").alias("c_only_b"),
    ).selectExpr(
        "n", "b_only_a", "c_only_b",
        # square in decimal(38,0): discordant counts at corpus scale
        # would overflow a long product under ANSI
        "case when b_only_a + c_only_b = 0 then 0.0d else "
        "round(cast(cast(b_only_a - c_only_b as decimal(38,0))"
        " * (b_only_a - c_only_b) as double)"
        " / (b_only_a + c_only_b), 6) end as mcnemar_chi2",
    )


def powerlaw_alpha(
    df: DataFrame,
    value_expr: str,
    x_min: int = 1,
) -> DataFrame:
    """Discrete power-law exponent by the Clauset-Shalizi-Newman MLE
    approximation: alpha = 1 + n / sum(ln(x_i / (x_min - 1/2))) over all
    x_i >= x_min — the one-number summary of a heavy-tailed distribution
    (user activity, node degree, doc length) that decides whether skew
    mitigation is worth building. alpha <= 2 means the mean itself is
    tail-dominated.

    Determinism: the log-sum folds the (value, multiplicity) pairs in
    sorted value order — multiplicities are exact integers, each distinct
    value contributes one m*ln(x/(x_min-0.5)) term, and the fold order is
    pinned by array_sort, so both engines add the same doubles in the
    same order. Scale shape: one grouped count (distinct-value-sized),
    one sorted-array fold on a single row.
    """
    per = (
        df.selectExpr(f"cast({value_expr} as bigint) as x")
        .filter(F.col("x") >= x_min)
        .groupBy("x")
        .agg(F.count("*").cast("long").alias("m"))
    )
    fold = (
        f"aggregate(arr, 0.0d, (a, t) -> "
        f"a + t.m * ln(t.x / ({x_min} - 0.5d)))"
    )
    return (
        per.agg(
            F.sum("m").cast("long").alias("n"),
            F.array_sort(F.collect_list(F.struct("x", "m"))).alias("arr"),
        )
        .selectExpr(
            "n",
            f"cast({x_min} as bigint) as x_min",
            f"round(1.0d + n / ({fold}), 6) as alpha",
        )
    )


def gini_coefficient(
    df: DataFrame,
    value_expr: str,
    id_expr: str,
) -> DataFrame:
    """Gini coefficient of a non-negative integer quantity — THE scalar
    skew summary (0 = uniform, ->1 = one key carries everything) read
    before choosing a partitioning / salting strategy. G =
    (2 * sum(i * x_(i)) / (n * sum(x))) - (n + 1) / n over values ranked
    ascending by (value, id) — a TOTAL order, so ranks are deterministic
    in both engines.

    Exactness: sum(i * x_i) and sum(x) are exact integers (decimal(38)
    against overflow); the formula is two final divides. The 1-based rank
    i is ``functions/rank.py:global_rank`` + 1, then one aggregate.
    """
    d = df.selectExpr(f"cast({value_expr} as bigint) as x",
                      f"{id_expr} as id")
    r = global_rank(d, "x", "id").selectExpr("x", "rank + 1 as i")
    return r.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum(F.expr("cast(i as decimal(38,0)) * x")).alias("six"),
    ).selectExpr(
        "n",
        "cast(sx as bigint) as total",
        "round(2.0d * cast(six as double) / (n * cast(sx as double))"
        " - (n + 1.0d) / n, 6) as gini",
    )


def woe_iv(
    df: DataFrame,
    value_expr: str,
    target_expr: str,
    n_bins: int = 10,
) -> DataFrame:
    """Weight-of-Evidence binning + Information Value — the classic
    feature-screening transform (credit scoring, churn models): bin a
    numeric feature into equal-width bins, score each bin by
    woe = ln(P(bin|positive) / P(bin|negative)) with Laplace +0.5
    smoothing (so empty cells never hit ln(0)), and summarize the
    feature's separating power as IV = sum over bins of
    (P(bin|pos) - P(bin|neg)) * woe.

    Determinism: bin edges come from the exact global (min, max) —
    bin = least(n_bins-1, floor(n_bins * (x-min)/(max-min))) in double,
    bit-identical on both engines; all per-bin statistics are INTEGER
    counts; woe/iv_term are a fixed expression over those integers; the
    IV total is an ORDER-STABLE fold of iv_term sorted by bin (the
    betweenness discipline), never a shuffled float sum.

    Scale shape: one min/max agg (map-side combinable), one pass to bin
    + one grouped count — two scans total, no joins on the fact table;
    the n_bins-row result broadcasts back onto itself for the total.

    Output: (bin, n, n_pos, n_neg, woe, iv_term, iv_total), woe/iv 6dp.
    """
    d = df.selectExpr(
        f"cast({value_expr} as double) as x",
        f"cast(({target_expr}) as int) as y",
    )
    mm = d.agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"),
        F.count("*").alias("n_all"),
    )
    binned = (
        d.crossJoin(F.broadcast(mm))
        .selectExpr(
            f"case when hi > lo then least({n_bins} - 1,"
            f" cast(floor({n_bins} * (x - lo) / (hi - lo)) as int))"
            " else 0 end as bin",
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .withColumn("n_neg", (F.col("n") - F.col("n_pos")).cast("long"))
    )
    tot = binned.agg(
        F.sum("n_pos").cast("long").alias("g"),
        F.sum("n_neg").cast("long").alias("b"),
        F.count("*").cast("long").alias("k"),
    )
    scored = binned.crossJoin(F.broadcast(tot)).selectExpr(
        "bin", "n", "n_pos", "n_neg",
        "(n_pos + 0.5d) / (g + 0.5d * k) as pg",
        "(n_neg + 0.5d) / (b + 0.5d * k) as pb",
    ).selectExpr(
        "bin", "n", "n_pos", "n_neg",
        "ln(pg / pb) as woe_raw",
        "(pg - pb) * ln(pg / pb) as iv_raw",
    )
    iv = scored.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(bin, iv_raw))),"
            " cast(0.0 as double), (a, x) -> a + x.iv_raw)"
        ).alias("iv_total_raw")
    )
    return (
        scored.crossJoin(F.broadcast(iv))
        .select(
            F.col("bin").cast("int").alias("bin"),
            "n", "n_pos", "n_neg",
            F.round("woe_raw", 6).alias("woe"),
            F.round("iv_raw", 6).alias("iv_term"),
            F.round("iv_total_raw", 6).alias("iv_total"),
        )
    )


def target_encoding(
    df: DataFrame,
    category_expr: str,
    target_expr: str,
    alpha: float = 10.0,
) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical feature — the
    standard high-cardinality-categorical transform for tabular models:
    enc(c) = (n_pos_c + alpha * prior) / (n_c + alpha), shrinking rare
    categories toward the global prior so one-row categories don't
    memorize their label.

    Determinism: per-category n/n_pos and the global totals are exact
    integers; prior and enc are single fixed expressions over those
    integers (no float folds over shuffled rows), rounded 6dp at the end.

    Scale shape: one grouped integer count + one global rollup of that
    (category-sized) table broadcast back — two map-side-combinable
    aggregates, no joins against the fact table.

    Output: (category, n, n_pos, prior, enc).
    """
    per = (
        df.selectExpr(
            f"cast({category_expr} as string) as category",
            f"cast(({target_expr}) as int) as y",
        )
        .groupBy("category")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
        )
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("n_pos").cast("long").alias("gt"),
    )
    return per.crossJoin(F.broadcast(tot)).selectExpr(
        "category", "n", "n_pos",
        "round(cast(gt as double) / cast(nt as double), 6) as prior",
        f"round((cast(n_pos as double) + {alpha!r} * (cast(gt as double) / cast(nt as double)))"
        f" / (cast(n as double) + {alpha!r}), 6) as enc",
    )


def bcubed_eval(
    assign: DataFrame,
    item_col: str = "item",
    pred_col: str = "pred",
    gold_col: str = "gold",
    scale: int = 1_000_000,
) -> DataFrame:
    """B-cubed extrinsic clustering evaluation (Bagga & Baldwin 1998) —
    THE standard entity-resolution / dedup-cluster quality metric:
    per-item precision is the fraction of the item's predicted cluster
    sharing its gold cluster, per-item recall the fraction of its gold
    cluster the predicted cluster recovers; corpus scores are the
    means. Unlike pairwise F1, B-cubed doesn't let one giant cluster
    dominate — which is exactly the failure mode of over-merged dedup.

    Integer-exact fold: per-item ratios are floor-scaled to micro-units
    (``o * scale DIV cluster_size`` — BIGINT), so the corpus sums are
    order-independent exact integers and the final doubles derive
    deterministically from them (the lp_rank_eval discipline); no
    float accumulates across rows.

    Plan: three map-side-combinable counts (intersection cells keyed by
    (pred, gold), predicted sizes, gold sizes), two dim-ish joins back
    to the assignment table, ONE global aggregate. No windows, no
    pairwise expansion — cost is |items|, never |items|² (the naive
    pairwise-F1 formulation).

    Returns one row: (n_items, p_micro_sum, r_micro_sum, precision_b3,
    recall_b3, f1_b3).
    """
    a = assign.select(
        F.col(item_col).cast("string").alias("item"),
        F.col(pred_col).cast("string").alias("pred"),
        F.col(gold_col).cast("string").alias("gold"),
    ).distinct()
    inter = a.groupBy("pred", "gold").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    cp = a.groupBy("pred").agg(F.count(F.lit(1)).cast("long").alias("cp"))
    cg = a.groupBy("gold").agg(F.count(F.lit(1)).cast("long").alias("cg"))
    per = (
        a.join(inter, ["pred", "gold"])
        .join(cp, "pred")
        .join(cg, "gold")
        .select(
            F.expr(f"o * CAST({scale} AS BIGINT) DIV cp").alias("p_u"),
            F.expr(f"o * CAST({scale} AS BIGINT) DIV cg").alias("r_u"),
        )
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("p_u").cast("long").alias("p_micro_sum"),
        F.sum("r_u").cast("long").alias("r_micro_sum"),
    )
    p = F.col("p_micro_sum") / (F.col("n_items") * F.lit(float(scale)))
    r = F.col("r_micro_sum") / (F.col("n_items") * F.lit(float(scale)))
    return agg.select(
        "n_items", "p_micro_sum", "r_micro_sum",
        F.round(p, 6).alias("precision_b3"),
        F.round(r, 6).alias("recall_b3"),
        F.round(2 * p * r / (p + r), 6).alias("f1_b3"),
    )


def conformal_intervals(
    df: DataFrame,
    x_expr: str,
    y_expr: str,
    key_expr: str,
    group_col: str = "grp",
    alpha_tenths: int = 1,
) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al.; Lei et al.,
    JASA 2018) around the per-group simple OLS fit, held EXACT end to
    end: rows split 3 ways by a sha-derived fold (train / calibration /
    test), the train fit is carried as integer sufficient statistics
    (slope N/D, intercept rationals — never a rounded double), each
    calibration/test residual is the exact SCALED integer

        R_i = n*D*y_i - Sy*D + N*Sx - n*N*x_i   (= n*D * r_i)

    in decimal(38) (== DuckDB HUGEINT), the conformal quantile is the
    k-th smallest |R| with k = ceil((n_cal + 1) * (1 - alpha)), and
    test coverage is an integer comparison against it — so the whole
    guarantee-bearing computation replays bit-for-bit; the only
    narrowed outputs are the descaled qhat (micro y-units, floor) and
    the coverage ratio (micro, floor).

    Scale shape: one grouped aggregate for the fit (broadcast — one row
    per group), residuals as a codegen projection, the ONLY sort is the
    per-group calibration order statistic (a window over the
    calibration split; at 10^9 rows swap in the exact histogram
    selection the MAD/winsorize operators use), coverage one aggregate.

    Output: (grp, n_train, n_cal, n_test, k, qhat_micro,
    target_micro, coverage_micro).
    """
    h60 = ("cast(conv(substring(sha2(cast(({k}) as string), 256), 1, 15),"
           " 16, 10) as bigint)")
    base = df.selectExpr(
        f"{group_col} AS grp",
        f"cast({x_expr} as decimal(38,0)) AS x",
        f"cast({y_expr} as decimal(38,0)) AS y",
        f"pmod({h60.format(k=key_expr)}, 3) AS fold",
    )
    stats = (
        base.filter("fold = 0")
        .groupBy("grp")
        .agg(
            F.expr("cast(count(*) as decimal(38,0))").alias("n_tr"),
            F.expr("cast(sum(x) as decimal(38,0))").alias("sx"),
            F.expr("cast(sum(y) as decimal(38,0))").alias("sy"),
            F.expr("cast(sum(x * x) as decimal(38,0))").alias("sxx"),
            F.expr("cast(sum(x * y) as decimal(38,0))").alias("sxy"),
        )
        .selectExpr(
            "grp", "n_tr", "sx", "sy",
            "cast(n_tr * sxy - sx * sy as decimal(38,0)) AS nn",
            "cast(n_tr * sxx - sx * sx as decimal(38,0)) AS dd",
        )
        .filter("dd <> 0")
    )
    resid = (
        "cast(n_tr * dd * y - sy * dd + nn * sx - n_tr * nn * x"
        " as decimal(38,0))"
    )
    cal = (
        base.filter("fold = 1")
        .join(F.broadcast(stats), "grp")
        .selectExpr("grp", f"abs({resid}) AS ar")
    )
    # n_cal anchored on the FITTED groups (left join), so a group whose
    # calibration split is empty still surfaces with n_cal = 0 rather
    # than silently vanishing (r4 advice defect)
    ncal = (
        stats.select("grp")
        .join(cal.groupBy("grp").agg(F.count("*").cast("long").alias("n_cal")),
              "grp", "left")
        .selectExpr(
            "grp", "coalesce(n_cal, 0) AS n_cal",
            f"cast(({10 - alpha_tenths} * (coalesce(n_cal, 0) + 1) + 9)"
            " div 10 as bigint) AS k",
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("grp").orderBy("ar")
    ranked = cal.withColumn("rn", F.row_number().over(w))
    # k > n_cal (under-calibrated: e.g. n_cal < 9 at alpha_tenths=1) has
    # no k-th order statistic — the split-conformal interval is the whole
    # line. LEFT-join the order-statistic match so those groups keep a
    # row with q_scaled = NULL -> qhat_micro NULL (interval undefined,
    # visibly) instead of disappearing from the output (r4 advice).
    match = (
        ranked.join(F.broadcast(ncal), "grp")
        .filter(F.col("rn") == F.col("k"))
        .select("grp", F.col("ar").alias("q_scaled"))
    )
    qhat = ncal.join(match, "grp", "left")
    test = (
        base.filter("fold = 2")
        .join(F.broadcast(stats), "grp")
        .join(F.broadcast(qhat.select("grp", "q_scaled")), "grp")
        .selectExpr(
            "grp",
            # an infinite interval covers every test point by definition
            f"CASE WHEN q_scaled IS NULL THEN 1 "
            f"WHEN abs({resid}) <= q_scaled THEN 1 ELSE 0 END AS cov",
        )
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum("cov").cast("long").alias("n_cov"),
        )
    )
    return (
        stats.select("grp", F.col("n_tr").cast("long").alias("n_train"),
                     "nn", "dd", F.col("n_tr").alias("ntr_d"))
        .join(qhat, "grp")
        .join(test, "grp", "left")
        .selectExpr(
            "grp", "n_train", "n_cal",
            "cast(coalesce(n_test, 0) as bigint) AS n_test", "k",
            "cast(q_scaled * 1000000 div (ntr_d * dd) as bigint)"
            " AS qhat_micro",
            f"cast({(10 - alpha_tenths) * 100000} as bigint) AS target_micro",
            "cast(n_cov * 1000000 div n_test as bigint) AS coverage_micro",
        )
    )
