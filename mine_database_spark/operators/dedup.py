"""Deduplication operators for large-scale document pipelines.

Exact, MinHash+LSH, n-gram Jaccard, and SimHash near-dup — all as native
DataFrame plans (no Python UDFs), md5-based so a SQL oracle can reproduce
them exactly.

Scale notes (100 TB): every variant avoids the quadratic all-pairs join —
  * exact: single hash-shuffle groupBy on the digest;
  * minhash-lsh: candidate pairs come from equi-joins on band signatures
    (shuffle keyed by the band bucket, skew-safe under AQE);
  * ngram-jaccard: pair generation restricted to LSH candidates (or a shared
    shingle inverted index), never a cross join;
  * simhash: fixed 60-bit signature per doc, near-dup = signatures within
    Hamming distance via banding on signature chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mine_database_spark.functions.text import tokens, word_shingles
from mine_database_spark.operators.pairs import guard_pair_volume, key_pairs, postings


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup on md5(text): survivor = min id per digest, plus group size."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias("survivor_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def normalized_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on a NORMALIZED digest — the C4-style middle ground
    between byte-exact dedup (misses a re-encoded copy that differs only
    in case or punctuation) and MinHash (overkill for trivially-reformatted
    copies): lowercase, strip punctuation/symbols, collapse whitespace,
    then the md5-min-id survivor rule. The normalization is a Unicode-class
    regexp ([^\\p{L}\\p{N}\\s] — letters/digits/whitespace survive), so it
    behaves identically on non-Latin text.

    Returns (digest, survivor_id, dup_count, n_variants) where n_variants
    counts DISTINCT raw texts that collapsed into the group — n_variants
    > 1 is exactly the set exact_dedup missed.

    Scale: identical to exact_dedup — the normalization is scan-side, the
    aggregate is one digest-keyed map-side-combinable shuffle. n_variants
    uses the raw-text md5 (fixed 32 chars), never the text itself, so the
    distinct-count state stays bounded per group.
    """
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), r"[^\p{L}\p{N}\s]+", " "),
        r"\s+",
        " ",
    )
    norm = F.regexp_replace(norm, r"^ | $", "")
    return (
        docs.select(
            F.col(id_col),
            F.md5(norm).alias("digest"),
            F.md5(F.col(text_col)).alias("__raw_digest"),
        )
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count(F.lit(1)).alias("dup_count"),
            F.countDistinct("__raw_digest").alias("n_variants"),
        )
    )


def shingle_table(docs: DataFrame, id_col: str, text_col: str, k: int = 5,
                  distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) pairs — the inverted-index building block.

    Shingles come from ONE linear regex pass per row
    (word_shingle_strings), so gram construction needs NO shuffle at all —
    the earlier posexplode + lead() window form shuffled every token on
    doc_id before the grams even existed.

    Pass distinct=False when the consumer is duplicate-insensitive (e.g. a
    min-aggregate): the (doc_id, shingle) distinct is its own shuffle AND
    breaks doc_id-partitioning reuse for a following groupBy(doc_id).
    """
    from mine_database_spark.functions.text import word_shingle_strings

    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingle_strings(F.col(text_col), k)).alias("shingle"),
    )
    return sh.distinct() if distinct else sh


# Universal-hash permutation table for minhash: h_i(x) = (a_i·x + b_i) mod p
# over ONE 32-bit md5 value per shingle. p = 2^31 − 1 (Mersenne prime);
# a_i = (2i+1)·2654435761 mod p is never 0 (p prime, both factors < p and
# nonzero mod p); products a·x < 2^62 never overflow a signed 64-bit int —
# this matters because the SQL oracle must run the same arithmetic in BIGINT.
MH_P = 2147483647
MH_AB: list[tuple[int, int]] = [
    (((2 * i + 1) * 2654435761) % MH_P, (i * 40503 + 1299721) % MH_P) for i in range(64)
]


def minhash_signatures(shingles: DataFrame, num_hashes: int = 16) -> DataFrame:
    """(doc_id, mh_0..mh_{n-1}): n minhash permutations from ONE md5
    evaluation per shingle.

    The md5's first 8 hex chars give one uniform 32-bit value x; permutation
    i is the universal hash (a_i·x + b_i) mod p (constants in MH_AB, shared
    with the SQL oracle). One digest per shingle instead of n/4 — md5 is the
    dominant cost (measured 1.8× end-to-end at sf0.1 vs the 4-digest form).
    Wide-form: ONE groupBy(doc_id) with n min-aggregates — no seed×shingle
    row blowup, map-side combinable at 100 TB.
    """
    x = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("bigint") % MH_P
    with_x = shingles.select("doc_id", x.alias("__x"))
    # string expressions: one parsed expr per permutation instead of ~4 py4j
    # round trips each — same plan, less driver build time
    aggs = [
        F.expr(f"min(({a}L * __x + {b}L) % {MH_P}L) AS mh_{i}")
        for i, (a, b) in enumerate(MH_AB[:num_hashes])
    ]
    return with_x.groupBy("doc_id").agg(*aggs)


def lsh_band_keys(signatures: DataFrame, rows_per_band: int = 4) -> DataFrame:
    """(doc_id, band, band_sig): md5 of the band's minhashes joined in seed
    order. Bands unpivot via a small array explode (num_bands rows/doc)."""
    num_hashes = len([c for c in signatures.columns if c.startswith("mh_")])
    num_bands = num_hashes // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws("|", *[F.col(f"mh_{b * rows_per_band + j}") for j in range(rows_per_band)])
                ).alias("band_sig"),
            )
            for b in range(num_bands)
        ]
    )
    return signatures.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig")
    )


def lsh_candidate_pairs(band_keys: DataFrame) -> DataFrame:
    """Distinct (a_id, b_id) pairs sharing at least one (band, band_sig)
    bucket, a_id < b_id: one posting list per bucket (pairs.key_pairs)."""
    return (
        key_pairs(postings(band_keys, ["band", "band_sig"], "doc_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def minhash_lsh_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      k: int = 5, num_hashes: int = 16, rows_per_band: int = 4) -> DataFrame:
    sh = shingle_table(docs, id_col, text_col, k, distinct=False)  # min is dup-insensitive
    return lsh_candidate_pairs(lsh_band_keys(minhash_signatures(sh, num_hashes), rows_per_band))


def minhash_jaccard_estimate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    with_exact: bool = True,
    storage_level=None,
) -> DataFrame:
    """MinHash Jaccard ESTIMATOR over the LSH candidate pairs: est =
    (# agreeing signature positions) / num_hashes — the sketch-side
    similarity the banding decision is actually built on, surfaced as a
    value. `with_exact=True` (the registered audit form, the hll_vocab
    recipe) joins the exact shingle-set Jaccard for the same pairs and
    reports abs_err, so the estimator's accuracy at the configured
    num_hashes is a measured column, not a textbook claim; False returns
    the estimate alone — the production form when the exact join is the
    cost being avoided (est needs only the signatures already computed
    for banding: zero additional corpus passes).

    Returns (a_id, b_id, n_agree, est_jaccard[, jaccard, abs_err]); a
    candidate pair with NO shared shingles (pure band hash collision)
    carries exact jaccard 0.0. Standard error of est is
    sqrt(J(1-J)/num_hashes) — ~0.12 at J=0.5 with 16 hashes; raise
    num_hashes for tighter audits.

    Scale: the estimate is two O(pairs) equi-joins against the signature
    table (num_hashes ints per row); the exact column reuses
    ngram_jaccard_pairs' candidate-restricted inverted index.

    `storage_level` lazily persists the signature table (three plan
    branches: band keys + both n_agree join sides) and, with_exact, the
    candidate-pair table (two). MEASURED at sf0.1 (r15 A/B, min-of-3
    isolated noop passes): neutral-to-negative — 2.63 s recompute vs
    2.83 s MEMORY_AND_DISK — AQE's runtime ReusedExchange already
    dedupes the signature build's exchanges across the branches (unlike
    binary_neardup, whose dominant gram work sits below its FIRST
    exchange in the scan stage and genuinely re-runs per branch). The
    registered query passes None; the option remains for expensive
    un-reusable inputs."""
    sh = shingle_table(docs, id_col, text_col, k, distinct=False)
    sigs = minhash_signatures(sh, num_hashes)
    if storage_level is not None:
        sigs = sigs.persist(storage_level)
    pairs = lsh_candidate_pairs(lsh_band_keys(sigs, rows_per_band))
    if storage_level is not None and with_exact:
        pairs = pairs.persist(storage_level)
    sa = sigs.select(
        F.col("doc_id").alias("a_id"),
        *[F.col(f"mh_{i}").alias(f"__a{i}") for i in range(num_hashes)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("b_id"),
        *[F.col(f"mh_{i}").alias(f"__b{i}") for i in range(num_hashes)],
    )
    n_agree = sum(
        (F.col(f"__a{i}") == F.col(f"__b{i}")).cast("int")
        for i in range(num_hashes)
    ).cast("int")
    est = F.round(F.col("n_agree") / F.lit(float(num_hashes)), 6)
    out = (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .select("a_id", "b_id", n_agree.alias("n_agree"))
        .select("a_id", "b_id", "n_agree", est.alias("est_jaccard"))
    )
    if not with_exact:
        return out
    exact = ngram_jaccard_pairs(
        docs, id_col, text_col, k, threshold=0.0, candidates=pairs
    )
    j = F.coalesce(F.col("jaccard"), F.lit(0.0))
    return out.join(exact, ["a_id", "b_id"], "left").select(
        "a_id",
        "b_id",
        "n_agree",
        "est_jaccard",
        j.alias("jaccard"),
        F.round(F.abs(F.col("est_jaccard") - j), 6).alias("abs_err"),
    )


NGRAM_JACCARD_MAX_CANDIDATES = 2_000_000_000
"""Default ceiling of ngram_jaccard_pairs' pre-flight guard on the
uncapped pair volume Σ df·(df−1)/2 (calibration in docs/SHUFFLES.md)."""


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        k: int = 5, threshold: float = 0.5,
                        candidates: DataFrame | None = None,
                        df_cap: int | None = None,
                        storage_level: StorageLevel | None = None,
                        max_candidate_pairs: int | None = NGRAM_JACCARD_MAX_CANDIDATES) -> DataFrame:
    """Pairs with shingle-set Jaccard >= threshold. Returns (a_id, b_id,
    jaccard), a_id < b_id, jaccard rounded to 6 digits.

    Pairs come from one posting list per shingle (pairs.postings /
    key_pairs), never a cross join. Document ids must be orderable; NULL
    ids produce no pairs. Three scale controls:

    * `candidates` (a_id, b_id) — e.g. LSH pairs — restricts the shingle
      table to candidate documents BEFORE the posting lists are built, and
      the result to the exact candidate pair set.
    * `df_cap` drops shingles held by more than `df_cap` documents before
      their posting list is built. Jaccard is then exact over the capped
      shingle universe: sizes and intersections both exclude capped
      shingles.
    * With neither, a pre-flight guard (pairs.guard_pair_volume, an eager
      action at plan build) raises ValueError when the pair volume
      Σ df·(df−1)/2 exceeds `max_candidate_pairs`; None skips it.

    `storage_level` persists the posting table across its branches (sizes,
    guard, pair explode); None (default) recomputes it, the safe choice
    when the table is too big to pin.
    """
    # the cap counts rows per shingle, so it needs distinct (doc, shingle)
    sh = shingle_table(docs, id_col, text_col, k, distinct=df_cap is not None)
    if candidates is not None:
        cand_docs = (
            candidates.select(F.col("a_id").alias("doc_id"))
            .unionByName(candidates.select(F.col("b_id").alias("doc_id")))
            .distinct()
        )
        # no broadcast hint: the candidate doc set can be huge at scale —
        # let AQE's runtime stats decide
        sh = sh.join(cand_docs, "doc_id", "left_semi")
    post = postings(sh, ["shingle"], "doc_id", cap=df_cap)
    if storage_level is not None:
        post = post.persist(storage_level)
    if candidates is None and df_cap is None:
        guard_pair_volume(
            post,
            max_candidate_pairs,
            "uncapped ngram_jaccard is quadratic in hot-shingle document "
            "frequency. Pass df_cap (the ngram_jaccard_capped twin uses "
            "df_cap=50), restrict with candidates=<LSH pairs>, or set "
            "max_candidate_pairs=None to force the uncapped run.",
        )
    sizes = (
        post.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    inter = (
        key_pairs(post)
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates.select("a_id", "b_id").distinct(), ["a_id", "b_id"], "left_semi")
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
        .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def ngram_candidate_volume(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    df_cap: int = 50,
) -> DataFrame:
    """ONE-row audit of the inverted-index pair-join volume — the
    ngram tier's sibling of the lsh/ivf_candidate_fraction audit pair,
    and the first-class face of ngram_jaccard_pairs' pre-flight guard:
    the same Σ df·(df−1)/2 the guard computes, alongside what the
    df_cap twin would pay, so the uncapped-vs-capped decision is priced
    from the posting lists BEFORE any pair join runs.

    Columns (all exact integers): n_shingles (distinct shingles),
    n_postings (posting-list entries = Σ df), cand_pairs (uncapped
    Σ df·(df−1)/2 — the pair join's exact output size), cand_pairs_capped
    (same sum restricted to df <= df_cap — ngram_jaccard_capped's
    volume), n_hot (shingles with df > df_cap, the stop-shingles the cap
    drops), max_df (the hottest posting list — the quadratic hot spot).

    Scale: one scan → shingle count agg → one-row rollup, every stage
    map-side combinable; at 100 TB run it on a uniform sample first —
    cand_pairs scales ~sample_fraction² per shingle, so rescale df by
    1/fraction before extrapolating (or just run the full scan: it is
    one aggregation, the same cost class as _get_n's census)."""
    if df_cap < 1:
        raise ValueError(f"df_cap must be >= 1, got {df_cap}")
    sh = shingle_table(docs, id_col, text_col, k)
    dfs = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    half = "df * (df - 1) div 2"
    return dfs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum("df").cast("bigint").alias("n_postings"),
        F.expr(f"sum({half})").cast("bigint").alias("cand_pairs"),
        F.expr(
            f"sum(CASE WHEN df <= {int(df_cap)} THEN {half} ELSE 0 END)"
        ).cast("bigint").alias("cand_pairs_capped"),
        F.expr(f"sum(CASE WHEN df > {int(df_cap)} THEN 1 ELSE 0 END)")
        .cast("bigint")
        .alias("n_hot"),
        F.max("df").cast("bigint").alias("max_df"),
    )


def simhash60(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document from whitespace tokens (with multiplicity).

    bit b of md5-int60(token) contributes +1/-1 to position b; the signature
    bit is the sign of the sum. 60 bits keeps everything in a positive bigint
    so the SQL oracle can reproduce it without unsigned types.

    Wide-form plan: ONE groupBy(doc_id) carrying 60 conditional-sum
    aggregates (per-bit +1/-1 tallies), instead of exploding each token into
    60 bit rows. The shuffle moves 60 longs per doc (map-side combined), not
    60 rows per token — at 100 TB the explode form shuffles ~60× the token
    count while this form shuffles O(docs).
    """
    from mine_database_spark.functions.text import md5_int60

    tok = docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("tok"))
    tok = tok.withColumn("h", md5_int60(F.col("tok")))
    # branch-free ±1 contribution ((h>>b)&1)*2-1 instead of CASE WHEN (~40%
    # faster through codegen), built as string expressions: the Column-DSL
    # form costs ~120 py4j round trips and 1.3s of driver time per plan
    # build; one parsed string per aggregate costs 0.3s (measured sf0.01)
    aggs = [F.expr(f"sum((shiftright(h, {b}) & 1) * 2 - 1) AS s{b}") for b in range(60)]
    per_bit = tok.groupBy("doc_id").agg(*aggs)
    sig = F.expr(" + ".join(f"if(s{b} > 0, {1 << b}L, cast(0 as bigint))" for b in range(60)))
    return per_bit.select("doc_id", sig.alias("simhash"))


def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        k: int = 5, w: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003):
    rolling hash of character k-grams, keep the minimum hash of every
    w-length window, emit the distinct selected hashes per document.

    Robust to local edits (an edit perturbs only nearby windows) — the
    rolling-hash fingerprinting entry of the text-analysis family, next to
    md5 (exact) and simhash (global near-dup). Hashes are md5-derived
    32-bit ints so the SQL oracle reproduces them exactly.

    Shuffle-FREE form: a document's fingerprints depend only on its own
    text, so grams, hashes, window minima, and the per-doc distinct are all
    array expressions INSIDE the row — the physical plan is scan →
    project → generate with ZERO Exchange. The earlier char-explode +
    doc_id-window form (kept as winnow_fingerprints_window for
    cross-checking) shuffles one row per character — a ~20-50× row
    amplification that becomes the bottleneck at 100 TB.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k}, w={w}")
    t = F.col(text_col)
    empty = F.array().cast("array<bigint>")
    # overlapping k-grams in ONE linear regex pass (lookahead capture;
    # (?s) keeps newline-crossing grams). The indexed t.substr(i, k) form
    # is QUADRATIC in doc length — UTF8String substring re-scans from the
    # start for char offsets (measured: 20x longer docs → ~400x slower);
    # the regex scan measured 2x faster at sf0.1 and exactly linear.
    grams = F.regexp_extract_all(t, F.lit(f"(?s)(?=(.{{{k}}}))."), 1)
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint"),
    )
    d = docs.select(F.col(id_col).alias("doc_id"), hashes.alias("__hs"))
    n_wins = F.size(F.col("__hs")) - F.lit(w - 1)
    # least(element_at...) instead of array_min(slice...): no per-window
    # array allocation (~10% faster; HOF lambdas evaluate interpreted, so
    # allocations dominate). n_wins bounds j+w-1 ≤ size, safe under ANSI.
    # F.least needs ≥2 args: with w == 1 the window min IS the element
    win_of = (
        (lambda j: F.element_at(F.col("__hs"), j))
        if w == 1
        else (lambda j: F.least(*[F.element_at(F.col("__hs"), j + i) for i in range(w)]))
    )
    win_mins = F.array_distinct(F.transform(F.sequence(F.lit(1), n_wins), win_of))
    return d.select(
        "doc_id",
        F.explode(F.when(n_wins >= 1, win_mins).otherwise(empty)).alias("fingerprint"),
    )


def winnow_fingerprints_window(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                               k: int = 5, w: int = 4) -> DataFrame:
    """Window-form winnowing twin: char posexplode + lead() grams + min()
    over a (doc_id, pos) window. Semantically identical to
    winnow_fingerprints; kept as an independent implementation for
    cross-checking the shuffle-free form (tests pin exact agreement).
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k}, w={w}")
    chars = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(F.split(F.col(text_col), "")).alias("pos", "c")
    ).where(F.col("c") != "")  # split('', '') yields [''] — not a char
    wo = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("c", i).over(wo) for i in range(1, k)]
    last = leads[-1] if leads else F.col("c")  # k == 1: the gram is the char
    grams = (
        chars.select(
            "doc_id", "pos", F.concat(F.col("c"), *leads).alias("gram"), last.alias("__g")
        )
        .where(F.col("__g").isNotNull())
    )
    grams = grams.withColumn(
        "h", F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10).cast("bigint")
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    n_grams = Window.partitionBy("doc_id")
    return (
        grams.withColumn("win_min", F.min("h").over(win))
        .withColumn("__n", F.max("pos").over(n_grams))
        .where(F.col("pos") <= F.col("__n") - (w - 1))  # only full windows
        .select("doc_id", F.col("win_min").alias("fingerprint"))
        .distinct()
    )


def first_wins_dedup(df: DataFrame, key_col: str, order_cols: list[str]) -> DataFrame:
    """Keep the first row per key under a deterministic order.

    Reference semantics: compound dedup across generations, first-generation
    wins (/root/reference/minedatabase/pickaxe.py:530-556, 1493-1495).
    Window row_number keeps the plan a single shuffle on the key.
    """
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


def segment_dedup(
    docs: DataFrame,
    seg_words: int = 32,
    scope_col: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Segment-level exact dedup across the corpus (the C4/RefinedWeb-style
    boilerplate scrub, public recipes): split every document into
    fixed-size word windows, keep each distinct segment's FIRST occurrence
    (global (doc_id, seg_idx) order), and rebuild documents from their
    surviving segments. A repeated header/footer/license block survives
    once, in the earliest document that carries it.

    Returns (doc_id, clean_text, n_segments, n_dropped); documents whose
    every segment was seen earlier come back with an empty clean_text and
    n_dropped == n_segments (callers usually drop those rows entirely).
    `scope_col` scopes first-wins per group (per language / per source
    domain) — segments only dedup within the same scope, the realistic
    large-corpus configuration; NULL scope values never equi-join, so
    null-scope documents are never scrubbed in scoped mode.

    Scale: segments are one split + slice projection (no Python). First-wins
    is NOT a digest-keyed row_number window: a boilerplate segment — the very
    thing this operator scrubs — appears in a huge share of documents, and a
    window would sort every copy of that hot digest in ONE task (AQE cannot
    split window partitions). Instead the winner per digest is
    min(struct(doc_id, seg_idx)) — a map-side-combinable aggregate whose
    shuffle carries ~one row per DISTINCT digest — and survivors are marked
    by an equi-join back on the digest, which AQE's skew-join CAN split when
    a digest is hot. The rebuild is one groupBy(doc_id) whose concat_ws
    state is bounded by the document length. Shuffles are over segment rows
    and distinct digests, never pairs.
    """
    if seg_words < 1:
        raise ValueError(f"seg_words must be >= 1, got {seg_words}")
    scope = ["__scope"] if scope_col is not None else []
    scope_src = [F.col(scope_col).alias("__scope")] if scope_col is not None else []
    words = F.split(F.col(text_col), " ")
    n_segs = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    segs = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            *scope_src,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_segs - 1),
                    lambda i: F.concat_ws(
                        " ", F.slice(words, i * seg_words + 1, seg_words)
                    ),
                )
            ).alias("seg_idx", "seg_text"),
        )
    )
    segs = segs.withColumn("__digest", F.md5(F.col("seg_text")))
    first = segs.groupBy(*scope, "__digest").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("__first")
    )
    # null-safe winner comparison: with a NULL doc_id a plain == yields NULL,
    # which when() would treat as "drop" while sum(~__keep) skipped it —
    # silently excluding the segment AND undercounting n_dropped. eqNullSafe
    # keeps the first-occurrence semantics total (min(struct) orders NULLs
    # first, so a null-id doc can legitimately win).
    marked = segs.join(first, [*scope, "__digest"]).withColumn(
        "__keep",
        F.col("doc_id").eqNullSafe(F.col("__first.doc_id"))
        & F.col("seg_idx").eqNullSafe(F.col("__first.seg_idx")),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct("seg_idx", "seg_text"),
                            )
                        )
                    ),
                    lambda t: t["seg_text"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum((~F.col("__keep")).cast("bigint")).alias("n_dropped"),
        )
    )


def repeated_span_scrub(
    docs: DataFrame,
    span_words: int = 8,
    min_dup_count: int = 2,
    scope_col: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document exact repeated-substring scrub — the suffix-array
    ExactSubstr dedup of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better") re-expressed for Spark: index every
    SLIDING `span_words`-token window, keep each distinct span's FIRST
    occurrence (global (doc_id, start) order), cut the token range of
    every later occurrence, and rebuild documents from the surviving
    tokens. Unlike segment_dedup's fixed, aligned segments, the window
    slides — a duplicated passage is caught at ANY offset, including
    self-repeats within one document.

    Returns (doc_id, clean_text, n_toks, n_dropped).

    Semantics: the removal set is the UNION of all loser-span token
    ranges; a winner span does not shield its tokens from an overlapping
    loser span (matches the reference policy of deleting later duplicate
    bytes outright). Documents shorter than span_words pass through
    unchanged (modulo the split/rejoin whitespace normalization shared
    with segment_dedup). NULL-id documents also pass through unchanged
    (n_dropped 0): their spans can still WIN a digest — min(struct)
    orders NULLs first — but their cut list cannot re-attach through the
    doc_id equi-join, and silently merging every null-id doc into one cut
    group would be worse; note a SQL replica that GROUPs the coverage by
    doc_id instead scrubs such rows to empty, so null-id behavior is an
    engine contract, not an oracle-checked one.

    `min_dup_count` (default 2 = scrub any duplication) raises the bar:
    a span must occur at least that many times corpus-wide before its
    later occurrences are cut — the boilerplate-only mode (Lee et al.
    use a repetition threshold the same way). `scope_col` scopes the
    whole operation per group (per language / per source domain): spans
    only dedup against spans in the SAME scope — the realistic
    large-corpus configuration, which also shrinks every digest group.
    A NULL scope value never equi-joins, so null-scope documents are
    never scrubbed in scoped mode — fill or drop missing scopes upstream.

    Scale: the positional span index is O(corpus tokens) rows — the same
    order as the published suffix array. The winner per span is a
    map-side-combinable min(struct) aggregate (~one shuffled row per
    DISTINCT span digest), and later occurrences are marked by an
    equi-join back on the digest that AQE's skew join can split on a hot
    boilerplate span — the de-skewed segment_dedup shape, never a
    digest-keyed window. Loser ranges merge into disjoint cut intervals
    with a window PARTITIONED BY doc_id (state bounded by document
    length) BEFORE any per-token work, so heavily-duplicated regions
    never explode span_words-fold; the rebuild filters each document's
    token array against its O(#intervals) cut list in one scan-local
    pass.
    """
    if span_words < 1:
        raise ValueError(f"span_words must be >= 1, got {span_words}")
    if min_dup_count < 2:
        raise ValueError(f"min_dup_count must be >= 2, got {min_dup_count}")
    w = span_words
    scope = ["__scope"] if scope_col is not None else []
    scope_src = [F.col(scope_col).alias("__scope")] if scope_col is not None else []
    words = F.split(F.col(text_col), " ")
    base = docs.select(F.col(id_col).alias("doc_id"), *scope_src, words.alias("__toks"))
    n = F.size(F.col("__toks"))
    spans = base.where(n >= w).select(
        "doc_id",
        *scope,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n - w),
                lambda p: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), p + 1, w))),
            )
        ).alias("start", "__digest"),
    )
    first = spans.groupBy(*scope, "__digest").agg(
        F.min(F.struct("doc_id", "start")).alias("__first"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    # only sufficiently-duplicated digests can produce losers; null-safe
    # winner comparison for the same reason as segment_dedup (min(struct)
    # orders NULL ids first, so a null-id doc can legitimately win)
    losers = (
        spans.join(
            first.where(F.col("__cnt") >= min_dup_count).drop("__cnt"),
            [*scope, "__digest"],
        )
        .where(
            ~(
                F.col("doc_id").eqNullSafe(F.col("__first.doc_id"))
                & F.col("start").eqNullSafe(F.col("__first.start"))
            )
        )
        .select("doc_id", "start")
    )
    return _scrub_token_ranges(base, losers, w)


def _scrub_token_ranges(base: DataFrame, losers: DataFrame, w: int) -> DataFrame:
    """Shared rebuild half of the span scrubs: merge each document's loser
    [start, start+w) token ranges into disjoint cut intervals
    (gaps-and-islands, window PARTITIONED BY doc_id so state is bounded by
    document length), then filter the token array against the O(#intervals)
    cut list in one scan-local pass. `base` carries (doc_id, __toks);
    `losers` carries (doc_id, start). Returns (doc_id, clean_text, n_toks,
    n_dropped)."""
    w_doc = Window.partitionBy("doc_id").orderBy("start")
    prev_end = F.max(F.col("start") + w).over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    cuts = (
        losers.withColumn(
            "__new", (prev_end.isNull() | (F.col("start") >= prev_end)).cast("int")
        )
        .withColumn(
            "__isl", F.sum("__new").over(w_doc.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy("doc_id", "__isl")
        .agg(F.min("start").alias("s"), (F.max("start") + w).alias("e"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("s", "e"))).alias("__cuts"))
    )
    kept = F.when(F.col("__cuts").isNull(), F.col("__toks")).otherwise(
        F.transform(
            F.filter(
                F.transform(
                    F.col("__toks"), lambda x, i: F.struct(x.alias("t"), i.alias("i"))
                ),
                lambda s: ~F.exists(
                    F.col("__cuts"), lambda c: (s["i"] >= c["s"]) & (s["i"] < c["e"])
                ),
            ),
            lambda s: s["t"],
        )
    )
    return base.join(cuts, "doc_id", "left").select(
        "doc_id",
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(F.col("__toks")).cast("bigint").alias("n_toks"),
        (F.size(F.col("__toks")) - F.size(kept)).cast("bigint").alias("n_dropped"),
    )


def decontaminate_spans(
    train: DataFrame,
    bench: DataFrame,
    span_words: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level eval decontamination — the REPAIR action the flag-level
    tier lacks: instead of dropping every training document that shares an
    n-gram with the benchmark (contamination_check's policy, which throws
    away a whole book over one quoted test question), cut ONLY the
    contaminated token spans and keep the rest — the SlimPajama/open-LM
    scrub policy. Every sliding `span_words`-token window of a train doc
    that appears ANYWHERE in the benchmark corpus marks its token range;
    ranges union into disjoint cut intervals; documents rebuild from the
    surviving tokens.

    Returns (doc_id, clean_text, n_toks, n_dropped) — the
    repeated_span_scrub contract; n_dropped > 0 is the contaminated-doc
    flag, clean_text == '' means the document was entirely benchmark
    material. Train docs shorter than span_words pass through unchanged
    (they cannot contain a full window — match exact-8-gram-tier
    semantics).

    Scale: the train-side positional span index is O(corpus tokens) rows,
    the same as repeated_span_scrub; the bench side reduces to its
    DISTINCT window digests (eval sets are small — the digest set
    broadcasts), so the dirty-span marking is a semi-join, never
    |train|×|bench|; the interval merge and rebuild are the shared
    document-bounded machinery (_scrub_token_ranges)."""
    if span_words < 1:
        raise ValueError(f"span_words must be >= 1, got {span_words}")
    w = span_words
    words = F.split(F.col(text_col), " ")
    base = train.select(F.col(id_col).alias("doc_id"), words.alias("__toks"))
    n = F.size(F.col("__toks"))
    spans = base.where(n >= w).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n - w),
                lambda p: F.md5(F.concat_ws(" ", F.slice(F.col("__toks"), p + 1, w))),
            )
        ).alias("start", "__digest"),
    )
    bwords = F.split(F.col(text_col), " ")
    bn = F.size(F.col("__btoks"))
    bgrams = (
        bench.select(bwords.alias("__btoks"))
        .where(bn >= w)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), bn - w),
                    lambda p: F.md5(
                        F.concat_ws(" ", F.slice(F.col("__btoks"), p + 1, w))
                    ),
                )
            ).alias("__digest")
        )
        .distinct()
    )
    dirty = spans.join(bgrams, "__digest", "left_semi").select("doc_id", "start")
    return _scrub_token_ranges(base, dirty, w)


def winnow_candidate_pairs(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    df_cap: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    storage_level: "StorageLevel | None" = None,
) -> DataFrame:
    """MOSS-style local-overlap candidate pairs (Schleimer et al., SIGMOD
    2003 §4): document pairs sharing at least `min_shared` winnowing
    fingerprints. Winnowing guarantees any shared substring of length
    >= w + k - 1 contributes a shared fingerprint, so this catches
    PARTIAL overlap — a quoted paragraph, a copied function — that
    global-similarity candidates (MinHash bands, SimHash) miss when the
    rest of the documents differ. Feed the pairs to
    ngram_jaccard_pairs(candidates=...) or a span diff for the verify
    pass, exactly like the MinHash route.

    Returns (a_id, b_id, n_shared) with a_id < b_id; ids must be
    orderable and NULL ids produce no pairs.

    `df_cap` drops fingerprints held by more than that many documents
    before their posting list is built — the MOSS "ignore boilerplate"
    move and the skew guard at once: a fingerprint shared by f documents
    emits f·(f-1)/2 pairs. Production at scale should always set it; None
    (default) keeps the exact semantics for oracle checking.

    Scale: fingerprints are the shuffle-free scan form
    (winnow_fingerprints); pairs come from one posting list per
    fingerprint (pairs.key_pairs) and the pair count is map-side
    combinable.

    With df_cap the fingerprint table feeds two branches (the per-key
    count and the posting lists), each otherwise re-running the md5 scan;
    `storage_level` persists it across them. None (default) recomputes —
    safe when the table is too big to pin. The persisted table is exposed
    as `pairs.persisted_fingerprints` so the caller can `.unpersist()` it
    once the pairs are materialized.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if df_cap is not None and df_cap < 2:
        raise ValueError(f"df_cap must be >= 2 (or None), got {df_cap}")
    fp = winnow_fingerprints(docs, id_col=id_col, text_col=text_col, k=k, w=w)
    if storage_level is not None:
        fp = fp.persist(storage_level)
    pairs = (
        key_pairs(postings(fp, ["fingerprint"], "doc_id", cap=df_cap))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    if storage_level is not None:
        pairs.persisted_fingerprints = fp
    return pairs


def source_overlap(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source k-gram overlap matrix — the corpus-level audit of the
    document-level ngram_jaccard: for every source pair, the Jaccard of
    their DISTINCT shingle sets. This is how an intake pipeline discovers
    that two crawls mirror each other (and one should be dropped or
    down-weighted) BEFORE paying for document-pair dedup between them.

    Returns (source_a, source_b, n_common, n_a, n_b, jaccard) with
    source_a < source_b, only for pairs sharing at least one shingle;
    NULL sources pair with nothing.

    Scale — why this is cheap where document-pair Jaccard is not: each
    shingle's posting list (pairs.postings) holds SOURCES, so it is bounded
    by the number of sources (tens), not the number of documents — the
    pair fan-out per shingle is at most #sources², no cap needed. Union
    sizes come from |A|+|B|−|A∩B|, never a union materialization.
    """
    from mine_database_spark.functions.text import word_shingle_strings

    sh = docs.select(
        F.col(source_col).alias("source"),
        F.explode(word_shingle_strings(F.col(text_col), k)).alias("shingle"),
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        key_pairs(postings(sh, ["shingle"], "source"))
        .groupBy(F.col("a_id").alias("source_a"), F.col("b_id").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(F.broadcast(sizes.withColumnRenamed("source", "source_a")), "source_a")
        .withColumnRenamed("n", "n_a")
        .join(F.broadcast(sizes.withColumnRenamed("source", "source_b")), "source_b")
        .withColumnRenamed("n", "n_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    content_cols: "tuple[str, ...] | list[str]" = ("text",),
) -> DataFrame:
    """Corpus-version diff: classify every id across two snapshots as
    added / removed / changed / unchanged by comparing an md5 digest of the
    content columns. The dataset-versioning primitive a training-data
    pipeline needs between crawls: what entered, what left, what was
    edited — feeding incremental_dedup (process only 'added'/'changed')
    and audit ledgers.

    Returns (doc_id, status, old_digest, new_digest); digests are NULL on
    the side where the id is absent. Content columns are null-safe: NULL
    and '' hash differently (each column is length-prefixed before
    hashing), and multi-column content cannot collide by boundary shifts.

    Scale: one full-outer hash join keyed on the id — a single shuffle of
    digest-projected rows (two columns each side), no windows, no
    collects. Skew-free by construction when ids are unique; AQE handles
    residual imbalance.
    """
    cols = list(content_cols)
    if not cols:
        raise ValueError("content_cols must name at least one column")

    def digest(df: DataFrame, alias: str) -> DataFrame:
        # length-prefix each value so ('ab','c') never collides with
        # ('a','bc'), and encode NULL distinctly from ''
        parts = []
        for c in cols:
            s = F.col(c).cast("string")
            parts.append(
                F.when(s.isNull(), F.lit("\x00")).otherwise(
                    F.concat(F.length(s).cast("string"), F.lit(":"), s)
                )
            )
        return df.select(
            F.col(id_col).alias("doc_id"),
            F.md5(F.concat_ws("\x1f", *parts)).alias(alias),
        )

    o = digest(old, "old_digest")
    n = digest(new, "new_digest")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") == F.col("new_digest"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id", status.alias("status"), "old_digest", "new_digest"
    )


def priority_dedup(
    docs: DataFrame,
    priority: "dict[str, int]",
    default_priority: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source exact dedup with a source-priority policy: one survivor
    per content digest — the copy from the MOST-preferred source (lowest
    priority number), ties broken by smallest id. The standard curation
    move when the same document exists in both a curated source and a
    crawl: keep the curated copy, not whichever id happens to be smallest
    (exact_dedup's min-id policy).

    `priority` maps source value -> rank (lower wins); unmapped sources get
    `default_priority`, so the map only needs to name the sources the
    caller cares about. The map becomes an inline literal MAP expression —
    JVM-side, no join, no broadcast variable.

    Returns (digest, survivor_id, survivor_source, dup_count).

    Scale: identical shape to exact_dedup — ONE digest-keyed shuffle of a
    map-side-combinable min(struct(rank, id, source)) aggregate, so a
    ubiquitous duplicate (a boilerplate page crawled a million times)
    combines to one row per partition before the shuffle. No windows.
    """
    if priority:
        kv = []
        for s, r in priority.items():
            kv.extend([F.lit(s), F.lit(int(r))])
        # try_element_at: NULL (not an ANSI MAP_KEY_DOES_NOT_EXIST error)
        # for sources the map doesn't name
        rank = F.coalesce(
            F.try_element_at(F.create_map(*kv), F.col(source_col)),
            F.lit(int(default_priority)),
        )
    else:
        rank = F.lit(int(default_priority))
    best = F.min(
        F.struct(
            rank.alias("r"),
            F.col(id_col).alias("id"),
            F.col(source_col).alias("src"),
        )
    ).alias("best")
    return (
        docs.select(
            F.md5(F.col(text_col)).alias("digest"),
            F.col(id_col),
            F.col(source_col),
        )
        .groupBy("digest")
        .agg(best, F.count(F.lit(1)).alias("dup_count"))
        .select(
            "digest",
            F.col("best.id").alias("survivor_id"),
            F.col("best.src").alias("survivor_source"),
            "dup_count",
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_hex: int = 4,
) -> DataFrame:
    """Incremental (cross-batch) exact dedup: rows of `new_docs` whose text
    digest does NOT already appear in `corpus` — the "is this crawl batch
    new against the existing 100 TB corpus?" filter.

    Two-phase plan (the Bloom-filter pattern, exact by construction):
      1. PREFILTER — the corpus's *bucket set* (first `bucket_hex` hex chars
         of md5(text); 16^bucket_hex ≤ ~1M buckets) is a bounded-size
         digest of arbitrarily many corpus rows. New docs whose bucket is
         absent are guaranteed-new and skip phase 2 entirely (anti-join
         against a ≤65536-row side that AQE/broadcast handles for free).
      2. VERIFY — only bucket-colliding candidates anti-join the corpus on
         the full digest, so the expensive full-width anti-join shuffles a
         small candidate slice instead of the whole batch.

    The union of both phases equals the plain digest anti-join exactly:
    phase 1 can only pass rows whose digest cannot be in the corpus (no
    false negatives at the bucket level), phase 2 is exact. At 100 TB the
    corpus-side bucket set is a reusable, broadcastable artifact (persist it
    once per corpus snapshot); only colliding candidates ever touch the
    full corpus digest index.

    Returns (id_col, digest).
    """
    # 5 hex chars = 16^5 ≈ 1M buckets is the most the force-broadcast
    # bucket set can justify; wider would let the "bounded-size digest"
    # grow toward the corpus cardinality and OOM the driver via the
    # broadcast hint
    if not 1 <= bucket_hex <= 5:
        raise ValueError(f"bucket_hex must be in [1, 5], got {bucket_hex}")
    new_d = new_docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("digest")
    ).withColumn("bucket", F.substring("digest", 1, bucket_hex))
    corpus_d = corpus.select(F.md5(F.col(text_col)).alias("digest")).withColumn(
        "bucket", F.substring("digest", 1, bucket_hex)
    )
    corpus_buckets = corpus_d.select("bucket").distinct()
    definite_new = new_d.join(F.broadcast(corpus_buckets), "bucket", "left_anti")
    candidates = new_d.join(F.broadcast(corpus_buckets), "bucket", "left_semi")
    verified_new = candidates.join(corpus_d.select("digest"), "digest", "left_anti")
    return definite_new.select(id_col, "digest").unionByName(
        verified_new.select(id_col, "digest")
    )


def cdc_segments(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    divisor: int = 16,
) -> DataFrame:
    """Content-defined chunking (CDC): split each document into variable-
    length token segments whose boundaries come from the CONTENT — a cut
    opens after token j+k-1 whenever the k-gram starting at j hashes to
    0 mod `divisor` — so an insertion near the top of a page shifts only
    the segment it lands in, and every later segment re-aligns and
    re-hashes identically. Fixed windows (segment_dedup) miss shifted
    boilerplate entirely: one added token re-frames every window after
    it. Expected segment length ≈ `divisor` tokens.

    Returns one row per non-empty segment: all input columns except
    `text_col`, plus (seg_idx, seg_start, seg_tokens, seg_text,
    seg_hash) — seg_hash = md5(seg_text) is the dedup key; group on it
    to find cross-document repeated blocks at content-aligned
    granularity (the registered q_cdc_dedup per-source report).

    Scale: pure per-row JVM array expressions (one md5 per k-gram inside
    a single transform, no re-evaluation; slices/joins row-local) — zero
    shuffle; dedup/reporting on seg_hash is the only exchange, and it
    carries one row per segment, not per token.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if divisor < 1:
        raise ValueError(f"divisor must be >= 1, got {divisor}")
    from mine_database_spark.functions.text import word_shingles

    t = docs.withColumn("__toks", tokens(F.col(text_col))).withColumn(
        "__grams", word_shingles(F.col("__toks"), k)
    )
    x = (
        lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("bigint")
    )
    # 0-based segment start positions: 0, plus j+1 for every flagged gram j
    cuts = F.filter(
        F.transform(
            F.col("__grams"),
            lambda g, j: F.when(x(g) % divisor == 0, j + 1).otherwise(F.lit(-1)),
        ),
        lambda v: v >= 0,
    )
    t = t.withColumn(
        "__starts", F.concat(F.array(F.lit(0).cast("int")), cuts.cast("array<int>"))
    )
    n = F.size("__toks")
    m = F.size("__starts")
    seg = F.transform(
        F.sequence(F.lit(0), m - 1),
        lambda j: F.struct(
            j.cast("int").alias("seg_idx"),
            F.get(F.col("__starts"), j).alias("seg_start"),
            (
                F.coalesce(F.get(F.col("__starts"), j + 1), n)
                - F.get(F.col("__starts"), j)
            ).cast("int").alias("seg_tokens"),
            F.array_join(
                F.slice(
                    F.col("__toks"),
                    F.get(F.col("__starts"), j) + 1,
                    F.coalesce(F.get(F.col("__starts"), j + 1), n)
                    - F.get(F.col("__starts"), j),
                ),
                " ",
            ).alias("seg_text"),
        ),
    )
    keep = [c for c in docs.columns if c != text_col]
    return (
        t.withColumn("__seg", F.explode(seg))
        .where(F.col("__seg.seg_tokens") > 0)
        .select(
            *keep,
            F.col("__seg.seg_idx").alias("seg_idx"),
            F.col("__seg.seg_start").alias("seg_start"),
            F.col("__seg.seg_tokens").alias("seg_tokens"),
            F.col("__seg.seg_text").alias("seg_text"),
            F.md5(F.col("__seg.seg_text")).alias("seg_hash"),
        )
    )


def keep_best_dedup(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware survivor selection over a near-dup pair graph: docs
    connected by `pairs` (a_id, b_id) collapse to components
    (graph.connected_components) and each component keeps its HIGHEST-
    `score_col` member (ties by min id) — "keep the most complete copy",
    the production replacement for min-id survivorship (the min-id rule
    keeps whatever happened to be crawled first; the best-copy rule keeps
    the longest/cleanest/highest-classifier-score variant). Docs in no
    pair survive as their own singleton component.

    Returns (id_col, component, score, is_survivor) for EVERY input doc —
    the keep-list is `where(is_survivor)`, the drop audit is the rest.

    Scale: components come from the fixed-round CC peel; survivor pick is
    one row_number window per component (shuffle on component, the same
    key the CC output already carries); score stays whatever scan-only
    signal the caller computed — no second corpus pass.
    """
    from mine_database_spark.operators.graph import connected_components

    cc = connected_components(pairs)
    scored = docs.select(
        F.col(id_col).alias("__id"), F.col(score_col).alias("score")
    )
    joined = scored.join(
        cc, scored["__id"] == cc["id"], "left"
    ).select(
        F.col("__id").alias(id_col),
        F.coalesce(F.col("component"), F.col("__id")).alias("component"),
        "score",
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return joined.select(
        id_col,
        "component",
        "score",
        (F.row_number().over(w) == 1).alias("is_survivor"),
    )


def text_knn(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 2,
    top_k: int = 3,
    threshold: float = 0.1,
    df_cap: int | None = 50,
    storage_level: StorageLevel | None = None,
) -> DataFrame:
    """Top-`top_k` most similar documents per document by capped k-gram
    Jaccard — the text-side kNN graph (the embedding-side twins are
    knn_graph/_lsh/_ivf): per-doc nearest neighbors drive cluster
    browsing, "more like this" retrieval audits, and duplicate-family
    exploration where no embedding column exists.

    Built on ngram_jaccard_pairs (shared-shingle inverted-index join,
    `df_cap` drops stop-shingles so the pair join never goes quadratic
    in posting-list length; `threshold` floors the candidate set); the
    symmetric pair list then takes a per-doc group-limit. Returns
    (doc_id, rank, nbr_id, jaccard), rank by (jaccard desc, nbr_id).

    Scale: pair volume is governed by df_cap/threshold exactly as the
    dedup family documents; the top-k is a rank<=k filter Spark rewrites
    to WindowGroupLimit (partial limits map-side) — no per-doc collect,
    no global sort.
    """
    if top_k < 1:
        raise ValueError(f"top_k must be >= 1, got {top_k}")
    pairs = ngram_jaccard_pairs(
        docs, id_col, text_col, k, threshold,
        df_cap=df_cap, storage_level=storage_level,
    )
    sym = pairs.select(
        F.col("a_id").alias("doc_id"), F.col("b_id").alias("nbr_id"), "jaccard"
    ).unionAll(
        pairs.select(
            F.col("b_id").alias("doc_id"), F.col("a_id").alias("nbr_id"), "jaccard"
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("jaccard"), F.asc("nbr_id"))
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_k)
        .select("doc_id", "rank", "nbr_id", "jaccard")
    )


def ngram_containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup candidates by k-gram CONTAINMENT
    (Broder, SEQUENCES 1997 §3): containment of A in B is
    |S(A)∩S(B)| / |S(A)|. Jaccard misses subset duplication — a paragraph
    quoted inside a 100× longer document scores near 0 Jaccard but 1.0
    containment — and subset dups are the common crawl pathology (article
    + site chrome, quoted posts, README embedded in a repo dump).

    Returns (a_id, b_id, inter, na, nb, containment) with a_id < b_id and
    containment = the LARGER of the two directions (round 6) filtered at
    `threshold`; direction recovers from the sizes (the contained side is
    the smaller set).

    Scale: the ngram_jaccard_pairs plan family — one posting list per
    distinct shingle (pairs.postings / key_pairs), map-side-combinable
    intersection counts; `df_cap` drops boilerplate shingles (> cap docs)
    before their posting list is built, and sizes count only the shingles
    that survive it. Ids must be orderable; NULL ids produce no pairs.
    Reference: the reference's dedup is whole-InChIKey equality
    (minedatabase/pickaxe.py:399-404); containment extends it for the
    training-data pipeline like ngram_jaccard does.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = shingle_table(docs, id_col, text_col, k=k, distinct=True)
    post = postings(sh, ["shingle"], "doc_id", cap=df_cap)
    sizes = (
        post.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    inter = (
        key_pairs(post)
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), "a_id")
        .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), "b_id")
        .withColumn(
            "containment",
            F.round(F.col("inter") / F.least(F.col("na"), F.col("nb")), 6),
        )
        .where(F.col("containment") >= threshold)
        .select("a_id", "b_id", "inter", F.col("na").cast("bigint").alias("na"),
                F.col("nb").cast("bigint").alias("nb"), "containment")
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_cap: int | None = None,
) -> DataFrame:
    """Near-dup pairs at SimHash Hamming distance <= max_hamming, found by
    pigeonhole banding (Manku/Jain/Sarma, WWW 2007 §3): the 60-bit
    signature splits into 4 disjoint 15-bit bands; two signatures within
    Hamming distance 3 MUST agree exactly on at least one band, so the
    band equi-self-join finds every qualifying pair and a bit_count(xor)
    verify removes false candidates. max_hamming is capped at 3 (= #bands
    - 1) — the pigeonhole recall guarantee stops there.

    Returns (a_id, b_id, hamming) with a_id < b_id.

    Scale: simhash60 is one map-side-combinable aggregate (O(docs)
    shuffle); banding multiplies rows 4×; candidates come from one posting
    list per (band, band_val) (pairs.key_pairs, never all-pairs) and the
    verify is a row-local xor — the WWW'07 production shape. `band_cap`
    drops degenerate bands (> cap docs sharing one band value — e.g. the
    all-zero band of near-empty docs) before their posting list is built.
    Ids must be orderable; NULL ids produce no pairs.
    """
    if not 0 <= max_hamming <= 3:
        raise ValueError(f"max_hamming must be in [0, 3] (4-band pigeonhole), got {max_hamming}")
    if band_cap is not None and band_cap < 2:
        raise ValueError(f"band_cap must be >= 2 (or None), got {band_cap}")
    sig = simhash60(docs, id_col=id_col, text_col=text_col).where(
        F.col("doc_id").isNotNull()
    )
    bands = sig.select(
        # struct ids order by doc_id first, so a_id < b_id is doc order
        F.struct("doc_id", "simhash").alias("sid"),
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), 15 * b).bitwiseAND(F.lit(0x7FFF))
                for b in range(4)
            ])
        ).alias("band", "band_val"),
    )
    cand = key_pairs(postings(bands, ["band", "band_val"], "sid", cap=band_cap)).select(
        F.col("a_id.doc_id").alias("a_id"),
        F.col("b_id.doc_id").alias("b_id"),
        F.col("a_id.simhash").alias("sa"),
        F.col("b_id.simhash").alias("sb"),
    ).distinct()
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
        )
        .where(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def dedup_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source exact-duplicate audit — the report a curation run reads
    BEFORE deciding which dedup passes to pay for: row counts, unique
    content counts, duplicate-row percentage, and the largest duplicate
    cluster per source.

    Returns (source, n_docs, n_unique, n_dup_rows, dup_pct, max_cluster);
    dup_pct is round(100·(n_docs−n_unique)/n_docs, 4) — one IEEE division
    of exact integers, bit-identical across engines.

    Scale: two stacked map-side-combinable aggregates (per-(source,
    digest) counts, then per-source rollup) — the second groupBy is a
    prefix of the first's key, so under AQE it reuses the same exchange;
    nothing wider than O(distinct digests) ever shuffles.
    """
    clusters = (
        docs.select(F.col(source_col).alias("source"), F.md5(F.col(text_col)).alias("__d"))
        .groupBy("source", "__d")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    n_docs = F.sum("__c").cast("bigint")
    n_unique = F.count(F.lit(1)).cast("bigint")
    return clusters.groupBy("source").agg(
        n_docs.alias("n_docs"),
        n_unique.alias("n_unique"),
        (n_docs - n_unique).alias("n_dup_rows"),
        F.round((n_docs - n_unique) * 100.0 / n_docs, 4).alias("dup_pct"),
        F.max("__c").cast("bigint").alias("max_cluster"),
    )


# Bloom-filter decontamination: the 100 TB twin of the exact shared-gram
# join. Deliberately DETERMINISTIC (md5 double hashing, fixed m/k) so the
# approximate structure itself is oracle-checkable — same bits, same flags
# in any engine.

def _bloom_positions(g, k: int, m_bits: int, salt: str):
    """k bit positions for gram g via Kirsch-Mitzenmacher double hashing
    over ONE md5: the salted digest's 60 bits split into two independent
    30-bit halves (h2 forced odd so the stride never degenerates),
    pos_i = (h1 + i*h2) mod m. One digest per gram, not two — md5 is the
    dominant probe cost (the minhash lesson, minhash_signatures above).
    Arithmetic stays tiny: h1 + 6*h2 < 7·2^30."""
    v = F.conv(
        F.substring(F.md5(F.concat(g, F.lit(salt))), 1, 15), 16, 10
    ).cast("bigint")
    h1 = v.bitwiseAND(F.lit((1 << 30) - 1))
    h2 = F.shiftright(v, 30).bitwiseOR(F.lit(1))
    return [F.pmod(h1 + i * h2, F.lit(m_bits)) for i in range(k)]


def bloom_bitmap(
    items: DataFrame,
    col: str,
    m_bits: int = 1 << 20,
    k: int = 5,
    salt: str = "bloom",
) -> DataFrame:
    """ONE-row DataFrame holding the Bloom bitmap as a DENSE
    array<bigint> of ceil(m/60) 60-bit words (60, not 64: 1<<59 is the
    largest mask that stays positive in every engine's signed BIGINT).

    DENSE, not a map: Spark's element_at on a map column is a LINEAR scan
    of the map's key array (no hash structure inside MapData), so a
    17k-entry map probed 5x per gram made the corpus scan O(grams·k·m/60)
    — measured 53s at sf0.1 vs ~3s with O(1) array indexing. The density
    pad unions a zero row per word index BEFORE the bit_or aggregate, so
    the collect_list is complete and in-order extraction needs no lookups.

    Build cost is O(items·k) rows into a map-side-combinable bit_or over
    exactly m/60 word rows; the structure is ~m/8 bytes and broadcasts
    anywhere.
    """
    if k < 1 or k > 7:
        raise ValueError(f"k must be in [1, 7], got {k}")
    n_words = (m_bits + 59) // 60
    spark = items.sparkSession
    pos = items.select(
        F.explode(F.array(*_bloom_positions(F.col(col), k, m_bits, salt))).alias("p")
    )
    words = pos.select(
        F.expr("p div 60").alias("w"),
        F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), F.pmod(F.col("p"), F.lit(60)).cast("int")
        ).alias("m"),
    )
    pad = spark.range(n_words).select(
        F.col("id").alias("w"), F.lit(0).cast("bigint").alias("m")
    )
    packed = words.unionByName(pad).groupBy("w").agg(F.bit_or("m").alias("word"))
    return packed.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("w", "word"))),
            lambda s: s.getField("word"),
        ).alias("bm")
    )


def bloom_decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    gram_words: int = 8,
    m_bits: int = 1 << 20,
    k: int = 5,
    salt: str = "bloom",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bloom-filter train/eval decontamination — the scale twin of the
    exact shared-8-gram join (q_contamination_check): eval grams build a
    bitmap once; every corpus document probes it ROW-LOCALLY.

    Returns (doc_id, n_grams, n_flagged, contaminated). One-sided error
    by construction: a truly shared gram is ALWAYS flagged (no false
    negatives — the safe direction for decontamination); a false positive
    costs an over-drop at rate ~(1 - e^{-kn/m})^k.

    Scale: this is the decontamination shape for a 100 TB corpus — the
    exact form shuffles every corpus gram into a semi-join against the
    eval gram set, while here the corpus side is a ZERO-shuffle scan (the
    gram array, the k hash probes, and the any-gram-flagged fold are all
    expressions inside the projection) against a broadcast map whose size
    is m/8 bytes (~128 KB at the default) regardless of corpus size. The
    only shuffles are the tiny eval-side build (O(eval grams · k) into
    <= m/60 word rows). Deterministic md5 double hashing keeps the bits
    engine-reproducible, so even this approximate path carries a full
    value oracle.
    """
    from mine_database_spark.functions.text import token_count, word_shingle_strings

    bm = bloom_bitmap(
        eval_docs.select(
            F.explode(word_shingle_strings(F.col(text_col), gram_words)).alias("g")
        ).distinct(),
        "g", m_bits=m_bits, k=k, salt=salt,
    )

    def probe_v(v):
        # all k bits present for digest v? h1/h2 are single bit-ops on the
        # already-materialized lambda value — the md5 itself lives in the
        # __vs array and is computed exactly ONCE per gram (HOFs evaluate
        # interpreted with no subexpression elimination, so an expression
        # that re-derives the digest per position pays k md5s per gram —
        # measured 5.6s -> ~2.5s at sf0.1 when hoisted)
        h1 = v.bitwiseAND(F.lit((1 << 30) - 1))
        h2 = F.shiftright(v, 30).bitwiseOR(F.lit(1))

        def bit_set(p):
            # DENSE array bitmap: element_at is O(1) positional indexing
            # (1-based); p/60 is exact in double and cast == floor, p >= 0.
            # F.shiftleft's numBits only takes a python int; the SQL
            # function itself accepts a column
            mask = F.call_function(
                "shiftleft", F.lit(1).cast("bigint"), F.pmod(p, F.lit(60)).cast("int")
            )
            word = F.element_at(F.col("bm"), ((p / 60) + 1).cast("int"))
            return word.bitwiseAND(mask) == mask

        return F.forall(
            F.array(*[F.pmod(h1 + i * h2, F.lit(m_bits)) for i in range(k)]), bit_set
        )

    digest = lambda g: F.conv(  # noqa: E731 — the single md5 per gram
        F.substring(F.md5(F.concat(g, F.lit(salt))), 1, 15), 16, 10
    ).cast("bigint")
    vs = F.transform(word_shingle_strings(F.col(text_col), gram_words), digest)
    # n_grams from the token count (== size of the gram array, one cheap
    # regex) so the gram-extraction regex runs once, inside __vs only
    n_grams = F.greatest(
        token_count(F.col(text_col)) - F.lit(gram_words - 1), F.lit(0)
    ).cast("int")
    per_doc = docs.crossJoin(F.broadcast(bm)).select(
        F.col(id_col),
        n_grams.alias("n_grams"),
        F.size(F.filter(vs, probe_v)).alias("n_flagged"),
    )
    return per_doc.select(
        id_col, "n_grams", "n_flagged", (F.col("n_flagged") > 0).alias("contaminated")
    )


def edit_distance_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 20,
    prefix_len: int = 16,
    max_block: int | None = 1000,
) -> DataFrame:
    """Character-level near-duplicate pairs by bounded Levenshtein
    distance — the edit-distance member of the dedup family (MinHash /
    SimHash / winnowing are token- or shingle-level; this one catches
    the "same text, a handful of character edits" copy that token-set
    similarity over-credits and byte-exact dedup misses entirely).

    Blocking (never all-pairs): candidates share the lowercased first
    `prefix_len` chars of the whitespace-collapsed text AND differ in
    length by at most `max_dist` (|len(a)-len(b)| is a Levenshtein lower
    bound, so the length prune is lossless GIVEN the block). The prefix
    block is a declared recall heuristic exactly like LSH banding: an
    edit inside the first `prefix_len` characters moves the doc to a
    different block. `max_block` drops blocks larger than the cap — the
    boilerplate-prefix guard (a shared header shared by f docs would
    emit C(f,2) pairs), same convention as ngram_jaccard's df cap.

    The distance itself is JVM-side bounded levenshtein(a, b, threshold)
    — O(len*max_dist) per pair, not O(len^2); pairs above the bound are
    discarded by the engine without completing the DP table.

    Returns (id_a, id_b, dist) with id_a < id_b and 0 <= dist <=
    max_dist (exact-dup pairs appear with dist 0).

    Scale: one scan to normalize + key, one equi-join on the block key
    (hash-partitioned; no broadcast of anything corpus-sized), per-pair
    bounded DP. Block sizes are corpus-property-bounded by `max_block`,
    so the join's per-key fan-out is capped at C(max_block, 2).
    """
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    norm = F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
    keyed = docs.select(
        F.col(id_col).alias("id"),
        norm.alias("t"),
        F.substring(F.lower(norm), 1, prefix_len).alias("bk"),
        F.length(norm).alias("n"),
    )
    if max_block is not None:
        ok = (
            keyed.groupBy("bk")
            .agg(F.count(F.lit(1)).alias("__bc"))
            .where(F.col("__bc") <= max_block)
            .select("bk")
        )
        keyed = keyed.join(ok, "bk")
    a = keyed.select(
        F.col("bk"),
        F.col("id").alias("id_a"),
        F.col("t").alias("t_a"),
        F.col("n").alias("n_a"),
    )
    b = keyed.select(
        F.col("bk"),
        F.col("id").alias("id_b"),
        F.col("t").alias("t_b"),
        F.col("n").alias("n_b"),
    )
    dist = F.levenshtein(F.col("t_a"), F.col("t_b"), max_dist)
    return (
        a.join(b, "bk")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("n_a") - F.col("n_b")) <= max_dist)
        )
        .select("id_a", "id_b", dist.alias("dist"))
        .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def snm_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 5,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Sorted-neighborhood dedup candidates (Hernández–Stolfo SNM): sort
    the corpus once by a normalized key, then compare each record only
    to its `window - 1` successors in sort order — the classic record-
    linkage blocking family, complementary to LSH (LSH blocks by CONTENT
    collision, SNM by sort ADJACENCY, so it catches near-dups whose
    shared prefix sorts them together even when no shingle band collides).

    The sort key is the lowercased whitespace-collapsed text (ties broken
    by id); the global order is materialized as distributed_rank — the
    two-level prefix sum from packing.py, one RANGE shuffle, never a
    single-partition row_number. Rank adjacency r2 - r1 in [1, window-1]
    is turned into an equi-join: each row lands in bucket floor(rank /
    window) and probes (bucket, bucket + 1), so a row meets at most
    2*window candidates and nothing is ever all-pairs.

    Candidate pairs are verified with exact distinct-token Jaccard
    (array_intersect / union of token sets — integer set sizes, one
    division) and kept at >= min_jaccard.

    Returns (id_a, id_b, rank_gap, jaccard) with id_a/id_b in SORT-KEY
    order (the pair is emitted as (lower rank, higher rank)).

    Scale: one range shuffle for the rank, one equi-join on the window
    bucket (fan-out <= 2 rows per record), token-set verify on the
    candidate set only. Window w trades recall for cost linearly — the
    production multi-pass variant re-runs with a second key (e.g.
    reversed text) and unions pairs.
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    from mine_database_spark.operators.packing import distributed_rank

    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    )
    keyed = docs.select(
        F.col(id_col).alias("id"),
        norm.alias("k"),
        F.array_distinct(tokens(F.col(text_col))).alias("toks"),
    )
    ranked = distributed_rank(keyed, ["k", "id"], rank_col="r")
    # each rank probes its own bucket and the next: covers every gap in
    # [1, window-1] exactly once (r2 in (b, b+1) buckets <=> r2 - r1 < 2w)
    left = ranked.select(
        F.col("id").alias("id_a"),
        F.col("toks").alias("toks_a"),
        F.col("r").alias("r_a"),
        F.explode(
            F.array(
                F.floor(F.col("r") / window),
                F.floor(F.col("r") / window) + 1,
            )
        ).alias("bk"),
    )
    right = ranked.select(
        F.col("id").alias("id_b"),
        F.col("toks").alias("toks_b"),
        F.col("r").alias("r_b"),
        F.floor(F.col("r") / window).alias("bk"),
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    uni = (
        F.size(F.col("toks_a")) + F.size(F.col("toks_b")) - inter
    )
    return (
        left.join(right, "bk")
        .where(
            (F.col("r_b") > F.col("r_a"))
            & (F.col("r_b") - F.col("r_a") < window)
        )
        .select(
            "id_a",
            "id_b",
            (F.col("r_b") - F.col("r_a")).cast("int").alias("rank_gap"),
            F.when(uni > 0, F.round(inter / uni, 6))
            .otherwise(F.lit(1.0))
            .alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )


def fuzzy_contamination(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Fuzzy cross-corpus decontamination: flag training documents that
    are NEAR-duplicates of a benchmark document — the missing tier
    between exact n-gram decontamination (misses one edited word) and
    embedding-based semantic decontamination (misses nothing lexical but
    needs vectors): MinHash-LSH banding across the two corpora, then an
    exact shingle-Jaccard verify of the candidates only.

    Pipeline: shingle both corpora (k-word grams), minhash signatures
    (shared MH_AB constants), band keys; candidates = train bands ⋈
    bench bands on (band, band_sig) — a CROSS-corpus equi-join, so the
    candidate volume is bounded by bucket collisions exactly like the
    self-join dedup (never |train|×|bench|). Each candidate pair is
    verified with the exact distinct-shingle Jaccard; per train doc the
    BEST match survives via max/min_by aggregates ordered by (jaccard
    desc, bench_id asc) — no window, no per-group sort; partials combine
    map-side; the tie-break never does arithmetic on the id, so string
    doc ids work.

    Returns one row per train doc with >= 1 candidate:
    (doc_id, bench_id, n_candidates, jaccard, contaminated) where
    contaminated = jaccard >= min_jaccard. Docs with no band collision
    are trivially clean and emit nothing.

    Scale: both corpora scan once for shingles; signatures are one
    groupBy(doc) each; the band join shuffles O(docs·bands) small keys;
    the verify joins only candidate pairs' shingles. The benchmark side
    is usually tiny (a few thousand eval docs) — at that shape every
    bench-side build broadcasts automatically; no hint is pinned so a
    bench-sized-like-train run still sort-merges safely.
    """
    sig_t = minhash_signatures(
        shingle_table(train, id_col, text_col, k, distinct=False), num_hashes
    )
    sig_b = minhash_signatures(
        shingle_table(bench, id_col, text_col, k, distinct=False), num_hashes
    )
    bt = lsh_band_keys(sig_t, rows_per_band).select(
        F.col("doc_id").alias("train_id"), "band", "band_sig"
    )
    bb = lsh_band_keys(sig_b, rows_per_band).select(
        F.col("doc_id").alias("bench_id"), "band", "band_sig"
    )
    cand = (
        bt.join(bb, ["band", "band_sig"])
        .select("train_id", "bench_id")
        .distinct()
    )
    dsh_t = shingle_table(train, id_col, text_col, k).select(
        F.col("doc_id").alias("train_id"), "shingle"
    )
    dsh_b = shingle_table(bench, id_col, text_col, k).select(
        F.col("doc_id").alias("bench_id"), "shingle"
    )
    sz_t = dsh_t.groupBy("train_id").agg(F.count(F.lit(1)).alias("n_t"))
    sz_b = dsh_b.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_b"))
    inter = (
        cand.join(dsh_t, "train_id")
        .join(dsh_b, ["bench_id", "shingle"])
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = (
        cand.join(inter, ["train_id", "bench_id"], "left")
        .join(sz_t, "train_id")
        .join(sz_b, "bench_id")
        .select(
            "train_id",
            "bench_id",
            F.round(
                F.coalesce(F.col("i"), F.lit(0))
                / (F.col("n_t") + F.col("n_b") - F.coalesce(F.col("i"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )
    # Best match = max jaccard, ties to the smallest bench_id. The ordering
    # struct negates JACCARD (always double) rather than bench_id, so the
    # tie-break is type-agnostic — string doc ids (supported by every other
    # operator in this module via plain '<' comparisons) work here too;
    # the previous -bench_id form threw CAST_INVALID_INPUT under ANSI mode.
    # Including bench_id in the struct makes the ordering total (cand pairs
    # are distinct), so min_by is deterministic. Both aggregates stay
    # map-side combinable.
    best = jac.groupBy("train_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_candidates"),
        F.max("jaccard").alias("best_jaccard"),
        F.min_by(
            "bench_id",
            F.struct((-F.col("jaccard")).alias("nj"), F.col("bench_id").alias("b")),
        ).alias("best_bench_id"),
    )
    return best.select(
        F.col("train_id").alias("doc_id"),
        F.col("best_bench_id").alias("bench_id"),
        "n_candidates",
        F.col("best_jaccard").alias("jaccard"),
        (F.col("best_jaccard") >= min_jaccard).alias("contaminated"),
    )
