"""Model-based document quality classification — the trainable scoring
stage a pretraining corpus goes through AFTER the rule-based pre-filter
(registry q_quality_rules) — the CCNet/fastText-style "does this look like
reference text" classifier, as pure Spark expressions.

Design mirrors heavy_filters.LogisticPairFeasibilityScorer: a pure-python
numpy fit() on a (small, labeled) sample, then fully distributed scoring.
The crucial property is that scoring never enters Python: features are
scan-only JVM regexp expressions (functions/text.py idiom) and the logistic
is a fixed arithmetic expression, so the 100 TB scoring pass is a pure
whole-stage-codegen scan. fit() computes the SAME features driver-side in
pure python (labeled samples are thousands of rows, not corpus-scale — the
standard shape for this stage).

The default weights ship pinned so scoring works dependency-free and the
DuckDB oracle (registry q_quality_classifier) can reproduce every score.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mine_database_spark.functions.lits import bigint_array_lit
from mine_database_spark.functions.text import (
    STOPWORDS_EN,
    nonspace_chars,
    stopword_token_count,
    token_count,
    tokens,
)
from mine_database_spark.operators.pairs import key_pairs, postings

# (name, weight) — trained offline on a synthetic clean-vs-spam sample with
# fit(); order is load-bearing: z accumulates left-to-right in this order in
# Spark, DuckDB, and the python twin, so scores hash-match across engines.
DEFAULT_WEIGHTS: tuple[tuple[str, float], ...] = (
    ("len_score", 1.2),       # min(n_tokens/100, 1): enough text to judge
    ("avg_token_len", 0.08),  # natural prose sits ~4-6; extremes are junk
    ("stopword_ratio", 2.0),  # function words = sentence structure
    ("upper_ratio", -1.5),    # SHOUTING / code / tables
    ("digit_ratio", -2.0),    # serial-number & log spam
)
DEFAULT_BIAS = -1.0


def _feature_cols(text: Column) -> dict[str, Column]:
    """The classifier features as scan-only JVM expressions. Empty or
    whitespace-only documents get 0.0 for every ratio (coalesce), matching
    the python twin and the SQL oracle."""
    n_tok = token_count(text)
    safe_n = F.nullif(n_tok, F.lit(0))
    chars = nonspace_chars(text)
    safe_c = F.nullif(chars, F.lit(0))
    return {
        "len_score": F.least(n_tok / F.lit(100.0), F.lit(1.0)),
        "avg_token_len": F.coalesce(chars / safe_n, F.lit(0.0)),
        "stopword_ratio": F.coalesce(
            stopword_token_count(text, list(STOPWORDS_EN)) / safe_n, F.lit(0.0)
        ),
        "upper_ratio": F.coalesce(
            F.length(F.regexp_replace(text, "[^A-Z]", "")) / safe_c, F.lit(0.0)
        ),
        "digit_ratio": F.coalesce(
            F.length(F.regexp_replace(text, "[^0-9]", "")) / safe_c, F.lit(0.0)
        ),
    }


def _features_py(text: str) -> dict[str, float]:
    """Pure-python twin of _feature_cols — same regex semantics (\\S+
    tokens, whole-token stopword hits, character-class counts), used by
    fit() so trained weights transfer exactly to the distributed scorer.

    re.ASCII is load-bearing: Java's default \\s is ASCII-only, so NBSP and
    other Unicode whitespace are token CHARACTERS on the JVM side; Python's
    default Unicode \\s would split on them and train on different feature
    values than scoring applies."""
    toks = re.findall(r"\S+", text or "", flags=re.ASCII)
    n_tok = len(toks)
    chars = sum(len(t) for t in toks)
    sw = sum(1 for t in toks if t in STOPWORDS_EN)
    return {
        "len_score": min(n_tok / 100.0, 1.0),
        "avg_token_len": (chars / n_tok) if n_tok else 0.0,
        "stopword_ratio": (sw / n_tok) if n_tok else 0.0,
        "upper_ratio": (sum(1 for c in text if "A" <= c <= "Z") / chars) if chars else 0.0,
        # ASCII range, not str.isdigit(): the JVM side matches [0-9] only
        "digit_ratio": (sum(1 for c in text if "0" <= c <= "9") / chars) if chars else 0.0,
    }


class LogisticQualityClassifier:
    """Logistic document-quality model over the five scan-only features.

    `weights` is an ordered (name, w) sequence — scoring folds terms
    left-to-right in that order so the float result is reproducible in any
    engine that does the same (the registry oracle does).
    """

    def __init__(
        self,
        weights: Sequence[tuple[str, float]] = DEFAULT_WEIGHTS,
        bias: float = DEFAULT_BIAS,
    ):
        self.weights = tuple(weights)
        self.bias = float(bias)

    def fit(
        self,
        texts: Iterable[str],
        labels: Iterable[int],
        lr: float = 0.5,
        n_iter: int = 400,
        l2: float = 1e-3,
    ) -> "LogisticQualityClassifier":
        """Full-batch logistic gradient descent on driver-side features —
        labeled quality samples are small by construction; the corpus-scale
        pass is score(), which is pure JVM."""
        import numpy as np

        names = [n for n, _ in self.weights]
        x = np.array(
            [[_features_py(t)[n] for n in names] + [1.0] for t in texts], dtype=float
        )
        y = np.array(list(labels), dtype=float)
        if len(x) != len(y) or not len(y):
            raise ValueError(f"need equal, nonzero samples/labels, got {len(x)}/{len(y)}")
        w = np.zeros(x.shape[1])
        for _ in range(n_iter):
            z = 1.0 / (1.0 + np.exp(-(x @ w)))
            grad = x.T @ (z - y) / len(y) + l2 * w
            w -= lr * grad
        self.weights = tuple((n, float(v)) for n, v in zip(names, w[:-1]))
        self.bias = float(w[-1])
        return self

    def score_col(self, text: Column) -> Column:
        feats = _feature_cols(text)
        z: Column = F.lit(self.bias)
        for name, w in self.weights:
            z = z + F.lit(w) * feats[name]
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))

    def score_py(self, text: str) -> float:
        import math

        feats = _features_py(text)
        z = self.bias
        for name, w in self.weights:
            z = z + w * feats[name]
        return 1.0 / (1.0 + math.exp(-z))

    def transform(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.5,
        round_digits: int = 6,
    ) -> DataFrame:
        """(id_col, quality_prob, keep) for every document — one scan, zero
        shuffles, zero Python."""
        prob = F.round(self.score_col(F.col(text_col)), round_digits)
        return docs.select(
            id_col,
            prob.alias("quality_prob"),
            (prob >= F.lit(threshold)).alias("keep"),
        )


def bigram_logprob(
    docs: DataFrame,
    add_k: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-trained bigram-LM quality score per document — the CCNet-style
    perplexity signal one step up from the registry's unigram LM: mean
    ln P(b | a) over the document's word bigrams under add-k (Laplace)
    smoothing, P(b|a) = (c(a,b) + k) / (c(a·) + k·V) with c(a·) the count
    of `a` as a bigram head and V the corpus vocabulary size.

    Returns (id_col, avg_logprob) for every document with >= 2 tokens
    (shorter documents have no bigram to score — same contract both
    engine- and oracle-side).

    Engine-exact determinism: every count is an integer, so each P(b|a)
    is the same rational number in any engine, and each ln term is
    quantized to an exact integer (x 1e6) BEFORE summing — float
    accumulation order can never flip a value (the unigram_logprob
    pattern, registry q_unigram_logprob).

    Scale: bigrams are an arrays_zip of two array slices — scan-side, no
    Python, no token shuffle. The LM is two map-side-combinable aggregates
    (distinct-bigram counts; head counts fold from them) plus a 1-row
    vocabulary count that joins in as a broadcast. Scoring is one shuffle
    join of the gram stream on (a, b) and the head counts ride along
    (c1 attaches to c2 rows keyed by the SAME (a,b) join — no second
    corpus-stream join on the skew-prone head word), then one per-doc
    aggregate.
    """
    from mine_database_spark.functions.text import tokens

    if add_k < 1:
        raise ValueError(f"add_k must be >= 1, got {add_k}")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    grams = docs.where(n >= 2).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, n - 1).alias("a"), F.slice(toks, 2, n - 1).alias("b")
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.a").alias("a"), F.col("g.b").alias("b"))
    c2 = grams.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c2"))
    # head counts fold from the (tiny-by-comparison) distinct-bigram table,
    # then attach to it — the corpus gram stream never joins on the bare
    # skew-prone head word
    c1 = c2.groupBy("a").agg(F.sum("c2").alias("c1"))
    lm = c2.join(c1, "a")
    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    term = (
        grams.join(lm, ["a", "b"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                F.log((F.col("c2") + add_k) / (F.col("c1") + add_k * F.col("v"))) * 1e6
            )
            .cast("bigint")
            .alias("q"),
        )
    )
    return term.groupBy("doc_id").agg(
        F.round(F.sum("q") / F.count(F.lit(1)) / 1e6, 6).alias("avg_logprob")
    )


def percentile_filter(
    docs: DataFrame,
    score_col: str,
    p: float = 0.25,
    group_col: str = "source",
    keep: str = "above",
) -> DataFrame:
    """Per-group exact-percentile thresholding — the FineWeb-style curation
    move "drop the worst X% of each source" without a single global
    constant: each group gets its own cutoff (the p-quantile of score_col
    within the group), so a uniformly-low-quality source still contributes
    its best documents instead of being wiped out by a global threshold.

    keep='above' retains rows with score >= the group's p-quantile;
    keep='below' retains score <= it (e.g. drop the longest tail).
    Returns the input columns plus `threshold`. Rows with NULL scores are
    dropped (they have no defined rank).

    Exact `percentile` (not approx_percentile) keeps the value oracle-able
    — both engines linearly interpolate at rank (n-1)p (the corpus_stats
    precedent). At 100 TB swap in approx_percentile: the plan shape is
    unchanged and the audit stays one map-side-combinable aggregate.

    Scale: thresholds are ONE groupBy(group_col) aggregate producing
    O(#groups) rows, broadcast back onto a stateless comparison scan — the
    corpus itself never shuffles. The naive alternative (a percent_rank
    window per group) shuffles the whole corpus on the group key and dies
    on a dominant source; this never does.
    """
    if keep not in ("above", "below"):
        raise ValueError(f"keep must be 'above' or 'below', got {keep!r}")
    if not (0.0 <= p <= 1.0):
        raise ValueError(f"p must be in [0, 1], got {p}")
    thresholds = docs.groupBy(group_col).agg(
        F.percentile(score_col, F.lit(float(p))).alias("threshold")
    )
    joined = docs.where(F.col(score_col).isNotNull()).join(
        F.broadcast(thresholds), group_col
    )
    cmp = (
        F.col(score_col) >= F.col("threshold")
        if keep == "above"
        else F.col(score_col) <= F.col("threshold")
    )
    return joined.where(cmp)


def zipf_audit(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_n: int = 200,
) -> DataFrame:
    """Zipf rank-frequency audit per group: the least-squares slope of
    ln(freq) against ln(rank) over the group's top-N tokens, with its r².
    Natural-language corpora sit near slope -1 (Zipf's law); a slope far
    shallower flags template/boilerplate floods, far steeper flags
    tiny-vocabulary spam — the distributional health check a corpus
    intake runs per source before mixing.

    Returns (group, n_terms INT, zipf_slope, zipf_r2, top_share) — top_share
    is the most frequent token's share of the group's tokens (rounded 6),
    the one-number skew companion. Rank ties break by token string so the
    regression input set is deterministic; the regression sums are float
    but over <= top_n values (error ~1e-13 against round-6 output).

    Scale: one token-count aggregate, a per-group top-N (rank window over
    the group histogram — O(vocab) rows, not O(corpus)), and an O(#groups)
    regression rollup. The corpus scans once.
    """
    if top_n < 2:
        raise ValueError(f"top_n must be >= 2, got {top_n}")
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    hist = toks.groupBy("grp", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy("grp").orderBy(F.desc("n"), F.asc("tok"))
    ranked = hist.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= top_n
    )
    totals = hist.groupBy("grp").agg(F.sum("n").alias("__tot"))
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("n").cast("double"))
    reg = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("int").alias("n_terms"),
        F.regr_slope(y, x).alias("__slope"),
        F.regr_r2(y, x).alias("__r2"),
        F.max(F.when(F.col("rank") == 1, F.col("n"))).alias("__top_n"),
    )
    return reg.join(F.broadcast(totals), "grp").select(
        F.col("grp").alias(group_col),
        "n_terms",
        F.round("__slope", 6).alias("zipf_slope"),
        F.round("__r2", 6).alias("zipf_r2"),
        F.round(F.col("__top_n") / F.col("__tot"), 6).alias("top_share"),
    )


def ngram_diversity(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Inter-document n-gram diversity per group: distinct k-gram count
    over total k-gram count — the corpus-level type-token ratio that
    drops toward 0 when a source floods the mix with templated or
    self-repetitive text (the inverse signal of repetition_stats, which
    is per-document and blind to ACROSS-document repetition).

    Returns (group, total_ngrams, distinct_ngrams, diversity rounded 6).

    Scale: one explode scan + per-group count / count_distinct sharing a
    shuffle. count_distinct state is O(group vocab) — the exact audit
    form; `ngram_diversity_hll` is the registered constant-memory twin
    (HLL registers over the same shingle column) when group vocabularies
    blow past executor memory. Shingles come from the one-pass regex
    extractor (word_shingle_strings — pinned equal to the
    word_shingles(tokens(...)) HOF form, which evaluates interpreted and
    measured ~2x slower end-to-end here; r15, guide §4.1).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from mine_database_spark.functions.text import word_shingle_strings

    grams = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(word_shingle_strings(F.col(text_col), k)).alias("g"),
    )
    agg = grams.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_ngrams"),
        F.countDistinct("g").cast("bigint").alias("distinct_ngrams"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "total_ngrams",
        "distinct_ngrams",
        F.round(F.col("distinct_ngrams") / F.col("total_ngrams"), 6).alias(
            "diversity"
        ),
    )


def collapse_repeats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Collapse runs of consecutively repeated whitespace tokens in
    `text_col` ("the the the cat" -> "the cat") — the intra-document
    stutter scrub (OCR hiccups, copy-paste doubling, broken templating)
    run before token counting or packing so repeated filler never reaches
    the training mix. The cross-document measurement twin is
    repetition_stats; this is the TRANSFORM.

    Replaces `text_col` with the scrubbed text (whitespace normalized to
    single spaces — token identity is what matters downstream) and
    appends n_tokens (pre-scrub) + n_collapsed. All other columns pass
    through. Idempotent: a second pass collapses nothing.

    Scale: pure per-row JVM array expressions (split + indexed filter +
    join) — zero shuffle, zero Python; the token array is hoisted into a
    materialized column once so the interpreted HOF lambda never
    re-evaluates the split per reference (the element_at/HOF note in the
    verify ledger).
    """
    kept = F.filter(
        F.col("__toks"),
        lambda x, i: (i == F.lit(0)) | (x != F.get(F.col("__toks"), i - 1)),
    )
    t = docs.withColumn("__toks", tokens(F.col(text_col))).withColumn(
        "__kept", kept
    )
    return (
        t.withColumn("n_tokens", F.size("__toks").cast("bigint"))
        .withColumn(text_col, F.array_join("__kept", " "))
        .withColumn(
            "n_collapsed",
            (F.size("__toks") - F.size("__kept")).cast("bigint"),
        )
        .drop("__toks", "__kept")
    )


def ngram_diversity_hll(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 3,
    with_exact: bool = True,
) -> DataFrame:
    """Constant-memory twin of `ngram_diversity`: the distinct k-gram
    count is a HyperLogLog estimate (sketches.hll_registers/hll_estimate,
    ≤1024 integer registers per group, map-side combinable) instead of
    countDistinct's O(group vocab) aggregation state — the form to run
    when a group's shingle vocabulary blows past executor memory.

    `with_exact=True` (the registered audit form, the hll_vocab recipe)
    also computes the exact countDistinct and reports rel_err so the
    estimate is accuracy-gated in the same result; `with_exact=False` is
    the production constant-memory form: (group, total_ngrams,
    est_distinct, diversity_est) only, nothing O(vocab) anywhere, and
    ONE corpus scan — the register aggregation carries a per-bucket
    count, so the total is Σ bucket counts from the same pass (pinned
    equal to the audit form's columns in pytest).
    Determinism: the HLL harmonic sum stays integer (see hll_estimate),
    so est_distinct is bit-reproducible across engines and partitionings.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from mine_database_spark.functions.text import word_shingle_strings
    from mine_database_spark.operators.sketches import hll_estimate, hll_registers

    # one-pass regex shingles (pinned equal to the HOF form; see
    # ngram_diversity's scale note)
    grams = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(word_shingle_strings(F.col(text_col), k)).alias("g"),
    )
    est = hll_estimate(hll_registers(grams, "g", ["grp"]), ["grp"])
    div_est = F.round(F.col("est_distinct") / F.col("total_ngrams"), 6).alias(
        "diversity_est"
    )
    if not with_exact:
        # single-scan production form: fold the register derivation into
        # ONE (grp, bucket) aggregation carrying a per-bucket count, so
        # total_ngrams = Σ bucket counts and the estimate both come from
        # the same corpus pass (the audit form below necessarily pays a
        # second pass for the exact countDistinct)
        from mine_database_spark.operators.sketches import hll_bucket_rho

        b, r = hll_bucket_rho(F.col("g"))
        regs = (
            grams.select("grp", b.alias("bucket"), r.alias("rho"))
            .groupBy("grp", "bucket")
            .agg(
                F.max("rho").alias("m_j"),
                F.count(F.lit(1)).cast("bigint").alias("__bn"),
            )
        )
        total = regs.groupBy("grp").agg(F.sum("__bn").alias("total_ngrams"))
        est1 = hll_estimate(regs.select("grp", "bucket", "m_j"), ["grp"])
        return total.join(est1, "grp").select(
            F.col("grp").alias(group_col), "total_ngrams", "est_distinct", div_est
        )
    agg = grams.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("total_ngrams"),
        F.countDistinct("g").cast("bigint").alias("distinct_ngrams"),
    )
    rel_err = F.round(
        F.abs(F.col("est_distinct") - F.col("distinct_ngrams"))
        / F.col("distinct_ngrams"),
        4,
    ).alias("rel_err")
    return agg.join(est, "grp").select(
        F.col("grp").alias(group_col),
        "total_ngrams",
        "distinct_ngrams",
        "est_distinct",
        rel_err,
        div_est,
    )


def token_pmi(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_n: int = 100,
    min_pair: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-k token pairs by pointwise mutual information over document
    co-occurrence: PMI = ln(N·c_xy / (c_x·c_y)) with c_* document
    frequencies and N the corpus size — the collocation/topic-coherence
    audit (natural corpora surface real collocations; template floods
    surface boilerplate pairs at implausible PMI).

    Restricted to the top `vocab_n` tokens by document frequency (ties by
    token string) so the pair space is bounded; pairs below `min_pair`
    co-occurrences are noise and dropped. All COUNTS are exact integers;
    the PMI ratio is computed in double domain — each count is cast to
    double BEFORE multiplying, so n_pair·n_docs and c_a·c_b never touch
    bigint multiplication (which fails the job under ANSI mode — Spark
    4's default — and wraps silently under legacy non-ANSI; double
    products of exact counts are themselves exact up to 2^53 and merely
    rounded above — harmless inside ln, rounded 6).
    Returns (tok_a, tok_b, n_pair, pmi, rank), top_k by (pmi desc, toks).

    Scale: one (doc, tok) distinct scan; the vocabulary is a top-N
    sort-limit broadcast BACK into the scan (semi-join), so each
    document's posting list (pairs.key_pairs) holds at most vocab_n
    tokens — O(docs·vocab_n²) worst case, governed by vocab_n, never by
    corpus vocabulary. The final top-k is a sort-limit.
    """
    if vocab_n < 2:
        raise ValueError(f"vocab_n must be >= 2, got {vocab_n}")
    dt = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).distinct()
    cx = dt.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    vocab = cx.orderBy(F.desc("c"), F.asc("tok")).limit(vocab_n)
    dtv = dt.join(F.broadcast(vocab.select("tok")), "tok", "left_semi")
    n_docs = docs.select(F.col(id_col)).distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    pairs = (
        key_pairs(postings(dtv, ["doc_id"], "tok"))
        .groupBy(F.col("a_id").alias("tok_a"), F.col("b_id").alias("tok_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
        .where(F.col("n_pair") >= min_pair)
    )
    ca = vocab.select(F.col("tok").alias("tok_a"), F.col("c").alias("ca"))
    cb = vocab.select(F.col("tok").alias("tok_b"), F.col("c").alias("cb"))
    # cast-then-multiply: bigint·bigint past 2^63 errors under ANSI
    # (Spark 4 default) and wraps silently under legacy mode
    pmi = F.round(
        F.log(
            (F.col("n_pair").cast("double") * F.col("n_docs").cast("double"))
            / (F.col("ca").cast("double") * F.col("cb").cast("double"))
        ),
        6,
    )
    scored = (
        pairs.join(F.broadcast(ca), "tok_a")
        .join(F.broadcast(cb), "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .select("tok_a", "tok_b", "n_pair", pmi.alias("pmi"))
    )
    top = scored.orderBy(
        F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b")
    ).limit(top_k)
    w = Window.orderBy(F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def ks_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between two
    snapshots of an integer metric (doc length, token count, …):
    D = max over values v of |F_a(v) − F_b(v)| — the distribution-shape
    shift monitor that complements token_drift (vocabulary) and
    embedding_drift (topic geometry): a crawl that suddenly returns
    truncated pages moves D long before any mean does.

    Exactness: the maximization runs entirely in integers — the
    candidate at each value is |cum_a·n_b − cum_b·n_a| (cross-multiplied
    empirical CDFs share the denominator n_a·n_b), so the argmax is
    order-independent and engine-exact; the single float division
    happens once on the winning numerator, rounded 6. Ties on D break to
    the SMALLEST value. Returns ONE row (n_a, n_b, d_stat, at_value).

    Scale: one value-histogram aggregate per snapshot, then a cumulative
    window over the O(distinct values) merged histogram — for bounded
    integer metrics (lengths, counts) that is thousands of rows at any
    corpus size, so the global window is a post-aggregation walk, never
    a corpus sort. Overflow bound: cum·n < 2^63 ⇒ fine to ~3·10⁹ rows
    per snapshot; past that, pre-divide the counts.
    """
    v = F.col(col).cast("bigint")

    def hist(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(v.alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).cast("bigint").alias(out))
        )

    zero = F.lit(0).cast("bigint")
    merged = (
        hist(df_a, "ca").join(hist(df_b, "cb"), "v", "full_outer")
        .select(
            "v",
            F.coalesce("ca", zero).alias("ca"),
            F.coalesce("cb", zero).alias("cb"),
        )
    )
    wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wtot = Window.partitionBy()
    cum = merged.select(
        "v",
        F.sum("ca").over(wcum).alias("cum_a"),
        F.sum("cb").over(wcum).alias("cum_b"),
        F.sum("ca").over(wtot).alias("n_a"),
        F.sum("cb").over(wtot).alias("n_b"),
    )
    num = F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
    scored = cum.select("v", "n_a", "n_b", num.alias("num"))
    best = scored.orderBy(F.desc("num"), F.asc("v")).limit(1)
    return best.select(
        "n_a",
        "n_b",
        F.round(
            F.col("num") / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
            6,
        ).alias("d_stat"),
        F.col("v").alias("at_value"),
    )


def token_drift(
    docs_a: DataFrame,
    docs_b: DataFrame,
    text_col: str = "text",
    vocab_n: int = 200,
    top_k: int = 30,
) -> DataFrame:
    """Cross-snapshot token-distribution drift: the top-k tokens by
    |per-token KL contribution| between two corpora's add-1-smoothed
    unigram distributions — the distribution-shift monitor run between
    crawl snapshots (a new boilerplate flood, a source going dark, or a
    language-mix change all surface as named tokens, which a single
    scalar KL cannot explain).

    Vocabulary = the top `vocab_n` tokens by COMBINED count (ties by
    token); P = (c_a+1)/(N_a+V), Q = (c_b+1)/(N_b+V) with N_* the
    snapshot's vocab-token totals and V = vocab_n; kl_term = P·ln(P/Q).
    All counts are exact integers, each float derives from them in one
    fixed expression, rounded 6 — deterministic across engines; no global
    float sum is reported (it would be partition-order-sensitive), only
    the per-token terms, ranked by |kl_term| (then token).

    Returns (tok, c_a, c_b, p, q, kl_term, rank).

    Scale: one token-count aggregate per snapshot, a vocab_n sort-limit,
    two 1-row totals — everything after the two corpus scans is
    O(vocab_n) rows, broadcast. Final order is a sort-limit.
    """
    if vocab_n < 2:
        raise ValueError(f"vocab_n must be >= 2, got {vocab_n}")
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")

    def counts(df, out):
        return (
            df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
            .groupBy("tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias(out))
        )

    ca = counts(docs_a, "c_a")
    cb = counts(docs_b, "c_b")
    zero = F.lit(0).cast("bigint")
    both = (
        ca.join(cb, "tok", "full_outer")
        .select(
            "tok",
            F.coalesce("c_a", zero).alias("c_a"),
            F.coalesce("c_b", zero).alias("c_b"),
        )
    )
    vocab = both.orderBy(
        F.desc(F.col("c_a") + F.col("c_b")), F.asc("tok")
    ).limit(vocab_n)
    totals = vocab.agg(
        F.sum("c_a").alias("n_a"), F.sum("c_b").alias("n_b")
    )
    v = F.lit(vocab_n).cast("bigint")
    p = (F.col("c_a") + 1) / (F.col("n_a") + v)
    q = (F.col("c_b") + 1) / (F.col("n_b") + v)
    scored = vocab.crossJoin(F.broadcast(totals)).select(
        "tok",
        "c_a",
        "c_b",
        F.round(p, 6).alias("p"),
        F.round(q, 6).alias("q"),
        F.round(p * F.log(p / q), 6).alias("kl_term"),
    )
    top = scored.orderBy(
        F.abs(F.col("kl_term")).desc(), F.asc("tok")
    ).limit(top_k)
    w = Window.orderBy(F.abs(F.col("kl_term")).desc(), F.asc("tok"))
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def source_top_terms(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 10,
    min_count: int = 5,
) -> DataFrame:
    """Per-source distinctive vocabulary: for every group, the top_k
    tokens by in-group frequency, each annotated with its LIFT — the
    token's in-group share divided by its corpus-wide share. Lift ≫ 1
    marks vocabulary characteristic of the source (a spam domain's
    pharma terms, a code site's keywords); lift ≈ 1 marks corpus-wide
    stopwords. The per-source "what is this source actually made of"
    audit that zipf_audit (global) cannot answer.

    Exact integer counts throughout; lift = (c_grp·total) /
    (tot_grp·c_tok) computed as ONE float division of two exact bigint
    products, rounded 4. `min_count` bounds tie noise. Ranking is
    (count desc, tok asc) — fully deterministic.

    Scale: one token explode + ONE (group, tok) count — the corpus TEXT
    is scanned exactly once (plan-gated); group totals, per-token corpus
    counts, and the grand total are WINDOW sums over that same post-agg
    table (O(groups·vocab) rows, not corpus tokens — separate groupBy
    rollups would re-derive the subtree and rescan the corpus once per
    rollup). The empty-partition grand-total window moves only the
    vocabulary-sized rows (the rule_coverage_cdf precedent); the
    per-group top-k is a row_number filter over the same grp
    partitioning. Product overflow bound: c_grp·total < 2^63 caps the
    corpus at ~3e9·3e9 token-occurrence pairs — beyond any real
    corpus's (per-group count)×(total tokens); cast-to-double before
    multiplying if a grid ever approaches it.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    gt = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w_grp = Window.partitionBy("grp")
    w_tok = Window.partitionBy("tok")
    w_all = Window.partitionBy()
    w_rank = Window.partitionBy("grp").orderBy(F.desc("c"), F.asc("tok"))
    enriched = (
        gt.withColumn("tot_grp", F.sum("c").over(w_grp))
        .withColumn("c_tok", F.sum("c").over(w_tok))
        .withColumn("total", F.sum("c").over(w_all))
        .where(F.col("c") >= min_count)
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= top_k)
    )
    return enriched.select(
        F.col("grp").alias(group_col),
        "tok",
        "c",
        F.col("rank").cast("int").alias("rank"),
        F.round(
            (F.col("c") * F.col("total"))
            / (F.col("tot_grp") * F.col("c_tok")),
            4,
        ).alias("lift"),
    )


def novelty_curve(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document corpus novelty: the fraction of a doc's distinct
    k-gram shingles whose FIRST corpus occurrence (min id) is this doc —
    read in id order it is the crawl's novelty-saturation curve, the
    number a data lead watches to decide when more crawling stops paying
    (novelty near 1 early, decaying as the corpus saturates; a doc near 0
    is assembled entirely from already-seen material, the
    repeated-span-scrub candidate set seen from the doc side).

    Returns (doc_id, n_grams, n_novel, novelty) per doc with >= 1 gram
    (docs shorter than k words emit nothing — they have no k-gram to be
    novel); novelty = n_novel / n_grams, round 6. First-occurrence
    ownership uses min(id) — '<'-comparable ids of any type work.

    Scale: one shingle scan (row-local extractor), ONE gram-keyed
    min-aggregate for ownership (map-side combinable), and two doc-keyed
    counts that both ride the gram table — the owner-count join-back is
    on the id, O(docs) rows per side. No windows, nothing corpus-sized
    collects.
    """
    from mine_database_spark.functions.text import word_shingle_strings

    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(word_shingle_strings(F.col(text_col), k))
        ).alias("g"),
    )
    totals = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    owners = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    return totals.join(owners, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
        F.round(
            F.coalesce(F.col("n_novel"), F.lit(0)) / F.col("n_grams"), 6
        ).alias("novelty"),
    )


# --- model-based language ID -------------------------------------------------
#
# Char-bigram multinomial Naive Bayes over a script-aware class alphabet
# (a-z + digits + one class per major Unicode script block + an
# everything-else bucket), the model-based upgrade of the registry's
# stopword-density lang_id heuristic. Mirrors the reference's pluggable-
# scorer pattern (filters/feasibility.py gates a learned model the same
# way) and the LogisticQualityClassifier recipe above: fit() learns from
# labeled data, scoring is a zero-Python zero-join scan.
#
# Reproducibility contract: log-probabilities are QUANTIZED to integers
# (round(ln(p) * 1e6) as bigint) at fit time, so the scoring sum is exact
# 64-bit integer arithmetic — any engine that replays the same quantized
# literals (the DuckDB oracle recomputes them from the same counts; its
# ln() agrees with python's math.log at the 1e-6 quantization grid, the
# same cross-engine transcendental tolerance q_quality_classifier's exp()
# documents) produces bit-identical scores and therefore identical argmax
# predictions. Ties break toward the alphabetically-first language on
# both sides.
#
# The class map (r14 advice: the original 27-class Latin-only alphabet
# collapsed every non-Latin script into one bucket, making e.g. Russian
# and Greek indistinguishable gram streams): code points class via ONE
# CASE expression shared verbatim by Spark, DuckDB, and the python twin
# — both engines' ascii() returns the Unicode code point of the first
# character, so the CASE is engine-neutral. Script-block granularity
# (not per-character) keeps V = NCLS² dense and the model literal small
# while separating scripts; languages sharing a script (ru/uk, hi/mr)
# still separate through their differing bigram distributions over the
# a-z-like within-block classes only when those blocks get their own
# fine classes — which Latin has (26 letters) and other scripts trade
# for the transition-shape signal (block-to-block, block-to-space
# bigram mix), the CLD1-era design point.

# (lo, hi, class) Unicode code-point ranges, checked after the a-z fast
# path; two ranges may share a class (Arabic + supplement, CJK + ext A).
_LANGID_BLOCKS: tuple[tuple[int, int, int], ...] = (
    (0x30, 0x39, 26),  # ASCII digits
    (0xC0, 0x24F, 27),  # Latin-1 Supplement + Latin Extended-A/B (accents)
    (0x370, 0x3FF, 28),  # Greek and Coptic
    (0x400, 0x4FF, 29),  # Cyrillic
    (0x590, 0x5FF, 30),  # Hebrew
    (0x600, 0x6FF, 31),  # Arabic
    (0x750, 0x77F, 31),  # Arabic Supplement (same class)
    (0x900, 0x97F, 32),  # Devanagari
    (0x980, 0x9FF, 33),  # Bengali
    (0xE00, 0xE7F, 34),  # Thai
    (0x3040, 0x309F, 35),  # Hiragana
    (0x30A0, 0x30FF, 36),  # Katakana
    (0x3400, 0x4DBF, 37),  # CJK Extension A (same class as Unified)
    (0x4E00, 0x9FFF, 37),  # CJK Unified Ideographs
    (0x1100, 0x11FF, 38),  # Hangul Jamo
    (0xAC00, 0xD7A3, 38),  # Hangul Syllables
)
LANGID_OTHER_CLS = 39  # space, punctuation, unlisted blocks
LANGID_NCLS = 40
LANGID_V = LANGID_NCLS * LANGID_NCLS  # dense: class(c1)*NCLS + class(c2)
LANGID_QUANT = 1_000_000


LANGID_MAX_CHARS = 512


def langid_class_sql(cp: str) -> str:
    """The engine-neutral CASE classing a code-point SQL expression `cp`
    into [0, LANGID_NCLS) — the ONE source of truth for Spark plans, the
    DuckDB oracle (registry _Q_LANG_ID_MODEL_SQL interpolates this), and
    (via the same block table) the python twin."""
    whens = " ".join(
        f"WHEN {cp} BETWEEN {lo} AND {hi} THEN {c}"
        for lo, hi, c in _LANGID_BLOCKS
    )
    return (
        f"CASE WHEN {cp} BETWEEN 97 AND 122 THEN {cp} - 97 "
        f"{whens} ELSE {LANGID_OTHER_CLS} END"
    )


def _langid_gram_idx(text_col: str, max_chars: int = LANGID_MAX_CHARS) -> Column:
    """array<int> of char-bigram indexes for one row — the shared gram
    extraction of fit and score. Lowercase; chars class per
    langid_class_sql (a-z -> 0-25, digits/script blocks -> their class,
    rest -> LANGID_OTHER_CLS); a text with fewer than 2 chars (or NULL)
    yields an empty array. Only the first `max_chars` code points
    participate — language is a HEAD property (the fastText/CLD
    convention), and the cap bounds per-row scoring cost by max_chars·K
    regardless of document length, which is what makes the scan's cost
    model flat at 100 TB.

    Shape note: the obvious transform(sequence(...), j ->
    substring(t, j, 1)) is QUADRATIC per row — UTF8String.substring
    seeks from the string head each call (code points, not bytes), so a
    c-char text pays O(c²) char scans. split-to-char-array once, class
    via two chained transforms (ascii once per char, then the CASE on
    the int — not per-WHEN re-derivation), then one zip_with over the
    two shifted slices — O(c), measured ~3x end-to-end at sf0.01."""
    t = f"substring(lower(coalesce({text_col}, '')), 1, {int(max_chars)})"
    cls = (
        f"transform(transform(split({t}, ''), c -> ascii(c)),"
        f" p -> {langid_class_sql('p')})"
    )
    n = f"length({t})"  # code points == split-array size
    e = (
        f"CASE WHEN {n} >= 2 THEN "
        f"zip_with(slice({cls}, 1, {n} - 1),"
        f"         slice({cls}, 2, {n} - 1),"
        f"         (c1, c2) -> c1 * {LANGID_NCLS} + c2) "
        "ELSE array() END"
    )
    return F.expr(e).cast("array<int>")


def explode_gram_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
    max_chars: int = LANGID_MAX_CHARS,
) -> DataFrame:
    """(id_col, *extra_cols, __g int) exploded char-bigram table — the
    shared gram extraction of fit_char_bigram_langid and the agg-shape
    scorer. explode_outer keeps zero-gram documents as one NULL-__g row
    (scored prior-only; excluded from fit counts by its NULL filter), so
    the table is a drop-in for both consumers: persist it and ONE
    extraction pass serves fit AND scoring (r15; the extraction's
    interpreted HOF chain is the dominant per-row cost).

    Same values as exploding _langid_gram_idx, with the class stream
    HOISTED into its own projected column below the Generate: the
    zip_with's two slice() arms otherwise carry two textual copies of the
    split+ascii+CASE subtree, and interpreted evaluation (HOFs are
    CodegenFallback) re-derives the full class array per copy — plus
    length(t) re-lowercases the head per reference. Hoisting evaluates
    split+ascii+CASE once per row and reads size(__cls) thereafter
    (size == code-point length for every non-empty head; both sides of
    the CASE agree on <2-char texts)."""
    t = f"substring(lower(coalesce({text_col}, '')), 1, {int(max_chars)})"
    cls = (
        f"transform(transform(split({t}, ''), c -> ascii(c)),"
        f" p -> {langid_class_sql('p')})"
    )
    gram = (
        "CASE WHEN size(__cls) >= 2 THEN "
        "zip_with(slice(__cls, 1, size(__cls) - 1),"
        "         slice(__cls, 2, size(__cls) - 1),"
        f"        (c1, c2) -> c1 * {LANGID_NCLS} + c2) "
        "ELSE array() END"
    )
    staged = docs.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.expr(cls).alias("__cls"),
    )
    return staged.select(
        id_col,
        *extra_cols,
        F.explode_outer(F.expr(gram).cast("array<int>")).alias("__g"),
    )


def explode_gram_table_arrow(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    extra_cols: tuple[str, ...] = (),
    max_chars: int = LANGID_MAX_CHARS,
) -> DataFrame:
    """mapInArrow twin of `explode_gram_table` — same rows (order-free
    exploded table: (id_col, *extra_cols, __g int), one NULL-__g row per
    zero-gram document), extracted by vectorized numpy batch code instead
    of the interpreted split+ascii+CASE+zip_with chain (guide §4.2: the
    HOF chain is CodegenFallback and was the fit job's dominant per-row
    cost; char-bigram CLASS INDICES are integers, so the Arrow path is
    bit-identical by construction — no float accumulation anywhere).

    Per batch: texts lowercase+truncate in CPython (str.lower is the same
    Unicode default case mapping Spark's lower applies on this corpus —
    pinned by the _gram_idx_py twin pytest and by the DuckDB value oracle
    at every SF), all rows concatenate into ONE utf-32 code-point array,
    the class map applies once (a-z direct, script blocks via
    searchsorted), and per-row gram slices are gathered by index
    arithmetic — no per-row Python loop over characters.

    Equality with the SQL form is pinned by
    tests/test_quality.py (arrow-vs-HOF full-table equality on the bench
    corpus sample + edge fixtures) and the lang_id_model value oracle."""
    import numpy as np
    import pyarrow as pa

    in_cols = [id_col, *extra_cols]
    base = docs.select(*in_cols, F.col(text_col).alias("__t"))
    out_schema = T.StructType(
        [base.schema[c] for c in in_cols] + [T.StructField("__g", T.IntegerType())]
    )
    # _LANGID_BLOCKS is declaration-ordered, not lo-ordered (Hangul Jamo
    # 0x1100 is listed after CJK 0x4E00); searchsorted needs ascending lo.
    # The blocks are disjoint, so sorting never changes which block wins.
    _sorted = sorted(_LANGID_BLOCKS)
    blocks_lo = np.array([lo for lo, _, _ in _sorted], dtype=np.int64)
    blocks_hi = np.array([hi for _, hi, _ in _sorted], dtype=np.int64)
    blocks_cls = np.array([c for _, _, c in _sorted], dtype=np.int32)
    other = LANGID_OTHER_CLS
    ncls = LANGID_NCLS
    mc = int(max_chars)

    def extract(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            texts = b.column(len(in_cols)).to_pylist()
            low = [(t or "").lower()[:mc] for t in texts]
            lens = np.fromiter((len(t) for t in low), dtype=np.int64, count=n)
            joined = "".join(low)
            codes = (
                np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
                .astype(np.int64)
                if joined
                else np.zeros(0, dtype=np.int64)
            )
            cls = np.full(codes.shape, other, dtype=np.int32)
            az = (codes >= 97) & (codes <= 122)
            cls[az] = (codes[az] - 97).astype(np.int32)
            bi = np.searchsorted(blocks_lo, codes, side="right") - 1
            inb = (bi >= 0) & ~az
            inb[inb] = codes[inb] <= blocks_hi[bi[inb]]
            cls[inb] = blocks_cls[bi[inb]]
            # all adjacent-pair grams of the concatenation, then keep only
            # within-row positions (starts[i] .. starts[i] + lens[i] - 2)
            g_all = (
                cls[:-1] * ncls + cls[1:]
                if codes.size > 1
                else np.zeros(0, dtype=np.int32)
            )
            ng = np.maximum(lens - 1, 0)
            starts = np.cumsum(lens) - lens
            row_idx = np.repeat(np.arange(n, dtype=np.int64), ng)
            within = np.arange(row_idx.size, dtype=np.int64) - np.repeat(
                np.cumsum(ng) - ng, ng
            )
            grams = g_all[starts[row_idx] + within].astype(np.int32)
            empty_rows = np.nonzero(ng == 0)[0]
            take = pa.array(np.concatenate([row_idx, empty_rows]))
            g_col = pa.array(
                np.concatenate([grams, np.zeros(empty_rows.size, dtype=np.int32)]),
                type=pa.int32(),
                mask=np.concatenate(
                    [
                        np.zeros(grams.size, dtype=bool),
                        np.ones(empty_rows.size, dtype=bool),
                    ]
                ),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column(i).take(take) for i in range(len(in_cols))] + [g_col],
                names=[*in_cols, "__g"],
            )

    return base.mapInArrow(extract, out_schema)


def _langid_cls_py(o: int) -> int:
    """Python twin of langid_class_sql over one code point."""
    if 97 <= o <= 122:
        return o - 97
    for lo, hi, c in _LANGID_BLOCKS:
        if lo <= o <= hi:
            return c
    return LANGID_OTHER_CLS


def _gram_idx_py(
    text: str | None, max_chars: int = LANGID_MAX_CHARS
) -> list[int]:
    """Pure-python twin of _langid_gram_idx (same contract, same output)."""
    t = (text or "").lower()[:max_chars]
    if len(t) < 2:
        return []
    cs = [_langid_cls_py(ord(ch)) for ch in t]
    return [cs[j] * LANGID_NCLS + cs[j + 1] for j in range(len(t) - 1)]


class CharBigramLangID:
    """Fitted char-bigram NB: `langs` sorted ascending, `prior_q[k]` the
    quantized log prior of langs[k], `mat[k]` the dense LANGID_V-long list of
    quantized log conditionals (Laplace-smoothed over the full index
    space, so unseen grams get ln(1/(total+LANGID_V)) — no sparse/default
    split to keep in sync)."""

    def __init__(self, langs: list[str], prior_q: list[int], mat: list[list[int]]):
        if not (len(langs) == len(prior_q) == len(mat)):
            raise ValueError("langs/prior_q/mat length mismatch")
        if any(len(row) != LANGID_V for row in mat):
            raise ValueError(f"every mat row must have {LANGID_V} entries")
        self.langs = list(langs)
        self.prior_q = [int(p) for p in prior_q]
        self.mat = [[int(v) for v in row] for row in mat]

    def transform(
        self,
        docs: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        extra_cols: tuple[str, ...] = (),
        shape: str = "agg",
        exploded: DataFrame | None = None,
    ) -> DataFrame:
        """(id, *extra_cols, pred_lang, score_q) scored per document; two
        plan shapes, bit-identical outputs (equality-pinned in pytest):

        - shape='agg' (default — measured min-of-3 scoring passes on the
          40-class model: tied at sf0.1 (7.5 s vs fold's 7.7), ahead and
          steadier at the 10x replicated corpus (11.7/11.8 s vs
          12.7/16.7) — the codegen aggregate scales flatter than the
          interpreted fold, the r12 LPA max_by precedent): explode the
          gram list, look each gram's K
          log-probs up positionally in K per-language literal arrays
          (element_at on a Literal — O(1), no join), and groupBy(id)
          summing K bigint columns. Everything is whole-stage-codegen
          HashAggregate with map-side partial aggregation, so the
          shuffle carries ~one K-wide row per document per partition;
          the interpreted-HOF fold is avoided entirely. explode_outer
          keeps zero-gram documents (score = prior only).
        - shape='fold': zero-shuffle single scan; the per-language score
          is an integer F.aggregate fold over the row's gram indexes
          against a gram-major flattened matrix literal. HOFs are
          CodegenFallback (interpreted), which is why the codegen agg
          shape wins despite its shuffle — kept as the no-shuffle
          option for shuffle-constrained pipelines.

        `extra_cols` pass through untouched (e.g. the declared-language
        column for a mismatch audit).

        `exploded` (agg shape only) supplies a PRE-BUILT exploded gram
        table — columns (id_col, *extra_cols, __g int) exactly as
        explode_gram_table produces — so a caller that also FITS on the
        same corpus shares ONE gram extraction between fit and scoring
        (persist it; the extraction is the dominant per-row cost and
        would otherwise run twice — r15, guide §2.4 'don't compute
        things twice')."""
        if shape == "agg":
            return self._transform_agg(docs, id_col, text_col, extra_cols, exploded)
        if exploded is not None:
            raise ValueError("exploded= is only supported with shape='agg'")
        if shape != "fold":
            raise ValueError(f"unknown shape {shape!r} (want 'agg' or 'fold')")
        gidx = _langid_gram_idx(text_col).alias("__g")
        k_langs = len(self.langs)
        # ONE fold over the gram list accumulating the K-vector of scores
        # against a GRAM-MAJOR flattened matrix (slot g*K..g*K+K-1 holds
        # gram g's log-probs for every language): per-gram work is one
        # O(K) slice + zip_with instead of K independent folds re-walking
        # the array — interpreted-HOF step count drops K-fold (measured
        # ~2.5x end-to-end at sf0.01 with K=5)
        # bigint_array_lit, not F.lit: the 8000-element list literal costs
        # ~6 s of py4j per plan build vs ~7 ms through the parser
        flat = bigint_array_lit(
            self.mat[k][i] for i in range(LANGID_V) for k in range(k_langs)
        )
        sums = F.aggregate(
            F.col("__g"),
            bigint_array_lit([0] * k_langs),
            lambda acc, g: F.zip_with(
                acc,
                F.slice(flat, g * k_langs + 1, k_langs),
                lambda a, b: a + b,
            ),
        )
        scores = F.zip_with(
            bigint_array_lit(self.prior_q), sums, lambda p, s: p + s
        )
        langs = F.lit(self.langs)
        extras = [F.col(c) for c in extra_cols]
        # the __b explode([1]) Generate is a deliberate CollapseProject
        # barrier (the similarity.py PQ recipe): pred_lang and score_q both
        # read the scores vector, and an interpreted projection (HOFs are
        # CodegenFallback) re-evaluates the WHOLE fold once per reference —
        # 3x the scoring cost, measured — unless the fold materializes in
        # its own projection below the consumers
        staged = (
            docs.select(F.col(id_col), *extras, gidx)
            .select(id_col, *extra_cols, scores.alias("__sc"))
            .withColumn("__b", F.explode(F.array(F.lit(1))))
        )
        return staged.select(
            id_col,
            *extra_cols,
            F.element_at(
                langs,
                F.array_position(F.col("__sc"), F.array_max("__sc")).cast("int"),
            ).alias("pred_lang"),
            F.array_max("__sc").alias("score_q"),
        )

    def _transform_agg(
        self,
        docs: DataFrame,
        id_col: str,
        text_col: str,
        extra_cols: tuple[str, ...],
        exploded: DataFrame | None = None,
    ) -> DataFrame:
        """The explode+groupBy codegen shape (see transform docstring).
        Grouping carries `extra_cols` alongside the id (functionally
        dependent on it by contract) so no join-back is needed; NULL
        grams from explode_outer contribute NULL to every sum (sum
        ignores NULL) -> coalesce(0) leaves prior-only scores for empty
        texts, exactly matching the fold shape's empty-array fold."""
        k_langs = len(self.langs)
        # parser-built literals (functions/lits.py): K x LANGID_V elements
        # through F.lit would cost seconds of py4j per plan build
        per_lang = [bigint_array_lit(self.mat[k]) for k in range(k_langs)]
        if exploded is None:
            exploded = explode_gram_table(docs, id_col, text_col, extra_cols)
        # the isNotNull guard is load-bearing, not style: element_at over a
        # PARSER-built array (CreateArray pre-folding) with a NULL ordinal
        # returns the LAST element, not NULL — SimplifyExtractValueOps
        # rewrites it to a CaseKeyWhen whose NULL key falls through to the
        # else branch (verified r15 on Spark 4.1; a py4j Literal array
        # returns NULL as documented). Guarding the ordinal keeps the
        # explode_outer NULL row contributing nothing to any sum.
        sums = exploded.groupBy(id_col, *extra_cols).agg(
            *[
                F.sum(
                    F.when(
                        F.col("__g").isNotNull(),
                        F.element_at(per_lang[k], F.col("__g") + 1),
                    )
                ).alias(f"__s{k}")
                for k in range(k_langs)
            ]
        )
        scores = F.array(
            *[
                (
                    F.lit(self.prior_q[k])
                    + F.coalesce(F.col(f"__s{k}"), F.lit(0))
                ).cast("bigint")
                for k in range(k_langs)
            ]
        )
        langs = F.lit(self.langs)
        # materialize the K-long scores array once below its two consumers
        # (same CollapseProject barrier rationale as the fold shape; here
        # the array is cheap, but the barrier keeps the plan shape uniform)
        staged = sums.select(
            id_col, *extra_cols, scores.alias("__sc")
        ).withColumn("__b", F.explode(F.array(F.lit(1))))
        return staged.select(
            id_col,
            *extra_cols,
            F.element_at(
                langs,
                F.array_position(F.col("__sc"), F.array_max("__sc")).cast("int"),
            ).alias("pred_lang"),
            F.array_max("__sc").alias("score_q"),
        )

    def score_py(self, text: str | None) -> tuple[str, int]:
        """Pure-python twin of one transform() row (equality-tested)."""
        g = _gram_idx_py(text)
        best_k, best_s = 0, None
        for k in range(len(self.langs)):
            s = self.prior_q[k] + sum(self.mat[k][i] for i in g)
            if best_s is None or s > best_s:
                best_k, best_s = k, s
        return self.langs[best_k], int(best_s)


def _quantize_logprob(num: int, den: int) -> int:
    import math

    return int(round(math.log(num / den) * LANGID_QUANT))


def fit_char_bigram_langid(
    docs: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
    exploded: DataFrame | None = None,
) -> CharBigramLangID:
    """Fit the NB on a labeled corpus: gram counts aggregate DISTRIBUTED
    (one explode + one (lang, gram) groupBy — map-side combinable, state
    bounded by langs x LANGID_V), then ONE small-by-contract collect of
    at most langs x LANGID_V count rows + langs doc counts (the PQ-codebook
    class of collect: model construction, run offline at 100 TB and
    shipped as literals). Rows with NULL labels are excluded from
    training; a language whose every text is too short simply has all-
    uniform conditionals. Quantization happens here, in python, once —
    scoring engines replay integers.

    `exploded` supplies a PRE-BUILT exploded gram table carrying at least
    (lang_col, __g) — exactly what explode_gram_table(docs,
    extra_cols=(lang_col,)) produces. A caller that fits AND scores the
    same corpus persists that one table and passes it to both
    (CharBigramLangID.transform takes the same argument), so the gram
    extraction — the dominant per-row cost — runs once instead of twice
    (r15, guide §2.4 'don't compute things you throw away'). The NULL-__g
    rows explode_outer keeps are filtered here, making the counts
    identical to the plain-explode form; per-language doc counts still
    come from `docs` (a column-pruned scan of lang_col only — no gram
    work)."""
    labeled = docs.where(F.col(lang_col).isNotNull())
    nd = {
        r["lang"]: r["n"]
        for r in labeled.groupBy(F.col(lang_col).alias("lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not nd:
        raise ValueError("no labeled rows to fit on")
    if exploded is None:
        gram_rows = labeled.select(
            F.col(lang_col).alias("lang"),
            F.explode(_langid_gram_idx(text_col)).alias("gi"),
        )
    else:
        gram_rows = exploded.where(
            F.col(lang_col).isNotNull() & F.col("__g").isNotNull()
        ).select(F.col(lang_col).alias("lang"), F.col("__g").alias("gi"))
    counts = (
        gram_rows
        .groupBy("lang", "gi")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    by_lang: dict[str, dict[int, int]] = {}
    for r in counts:
        by_lang.setdefault(r["lang"], {})[r["gi"]] = r["c"]
    langs = sorted(nd)
    n_total = sum(nd.values())
    prior_q = [_quantize_logprob(nd[lg], n_total) for lg in langs]
    mat = []
    for lg in langs:
        cnt = by_lang.get(lg, {})
        tot = sum(cnt.values())
        mat.append(
            [_quantize_logprob(cnt.get(i, 0) + 1, tot + LANGID_V) for i in range(LANGID_V)]
        )
    return CharBigramLangID(langs, prior_q, mat)


def fit_char_bigram_langid_py(
    rows: Iterable[tuple[str | None, str | None]]
) -> CharBigramLangID:
    """Pure-python twin of fit_char_bigram_langid over (lang, text) rows —
    the equality pytest proves the distributed fit computes exactly this."""
    nd: dict[str, int] = {}
    by_lang: dict[str, dict[int, int]] = {}
    for lang, text in rows:
        if lang is None:
            continue
        nd[lang] = nd.get(lang, 0) + 1
        d = by_lang.setdefault(lang, {})
        for gi in _gram_idx_py(text):
            d[gi] = d.get(gi, 0) + 1
    if not nd:
        raise ValueError("no labeled rows to fit on")
    langs = sorted(nd)
    n_total = sum(nd.values())
    prior_q = [_quantize_logprob(nd[lg], n_total) for lg in langs]
    mat = []
    for lg in langs:
        cnt = by_lang.get(lg, {})
        tot = sum(cnt.values())
        mat.append(
            [_quantize_logprob(cnt.get(i, 0) + 1, tot + LANGID_V) for i in range(LANGID_V)]
        )
    return CharBigramLangID(langs, prior_q, mat)
