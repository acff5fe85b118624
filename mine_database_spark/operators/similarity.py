"""Similarity search over embedding columns.

Brute-force cosine top-k (baseline, exact) and an LSH-bucketed approximate
variant (the 100 TB scale path). The query side is tiny and broadcast; the
corpus side never shuffles for the brute-force path (map-side compute +
per-partition top-k via window over the broadcast-joined result).

Reference parity: the reference's similarity machinery is fingerprint
Tanimoto against broadcast targets (/root/reference/minedatabase/filters/
similarity.py:515-797); embeddings replace fingerprints here, cosine
replaces Tanimoto, and the same broadcast-the-small-side shape applies.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mine_database_spark.functions.lits import double_array_lit

from mine_database_spark.functions.vectors import cosine, cosine_maybe_unrolled
from mine_database_spark.operators.iterate import iterate
from mine_database_spark.operators.pairs import guard_pair_volume, key_pairs, postings


def _valid_vec(vec_col: str):
    """Filter predicate for usable embedding rows: drops NULL vectors AND
    vectors with a NULL element — the numpy tile kernels (np.stack + @)
    would otherwise receive an object-dtype array and crash at runtime
    instead of excluding the row. Ragged lengths are not detectable row-
    locally without a declared dim; the tile kernels raise a descriptive
    error for those (np.stack refuses mixed lengths)."""
    c = F.col(vec_col)
    return c.isNotNull() & ~F.exists(c, lambda x: x.isNull())


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, rank, vec_id, score). Deterministic tiebreak on
    (rounded score desc, vec_id). `dim` (the embedding width) switches the
    score to the bit-identical unrolled form that stays inside whole-stage
    codegen; pass None for unknown/ragged widths.
    """
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("score", F.round(cosine_maybe_unrolled(F.col("v"), F.col("qv"), dim), round_digits))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )


def kmeans_codebook(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> DataFrame:
    """Lloyd-refined IVF codebook as a ONE-ROW DataFrame (`__cents` array of
    (cid, cv) structs), drop-in for ivf_topk(codebook=...).

    Assignment uses max dot product (matching ivf_topk's probe metric —
    spherical k-means on unnormalized means); update is the element-wise
    mean per list via posexplode + (list, pos) average, re-gathered with
    array_sort(collect_list(struct(pos, mean))).

    Scale: each iteration is one broadcast argmax projection over the
    (optionally sampled) corpus plus two map-side-combinable aggregations
    whose cardinality is n_centroids x dim — codebook training at 100 TB
    runs on a sample (`sample_fraction`), never the full corpus. The
    `n_iter` rounds run on `iterate`. Empty lists drop out (standard
    Lloyd degeneracy; fewer lists only reduces probe pruning, never
    correctness).
    """
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
    if sample_fraction is not None:
        c = c.sample(fraction=sample_fraction, seed=7)
    cent_row = (
        c.orderBy("vec_id")
        .limit(n_centroids)
        .agg(F.collect_list(F.struct(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))).alias("__cents"))
    )
    best = F.reverse(
        F.array_sort(
            F.transform(
                F.col("__cents"),
                lambda ct: F.struct(
                    F.aggregate(
                        F.zip_with(F.col("v"), ct["cv"], lambda a, b: a * b),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("s"),
                    ct["cid"].alias("cid"),
                ),
            )
        )
    )[0]["cid"]

    def step(history):
        assigned = c.crossJoin(F.broadcast(history[-1])).select(F.col("v"), best.alias("cid"))
        dims = assigned.select("cid", F.posexplode("v").alias("pos", "x"))
        means = dims.groupBy("cid", "pos").agg(F.avg("x").alias("m"))
        vecs = means.groupBy("cid").agg(
            F.transform(F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]).alias("cv")
        )
        return vecs.agg(F.collect_list(F.struct(F.col("cid"), F.col("cv"))).alias("__cents"))

    # fixed rounds, no done(): float means are not bit-stable across rounds
    return iterate(cent_row, step, max_rounds=n_iter)[0][-1]


def _ranked_lists(col):
    """[(dot score, cid)] over the broadcast `__cents` codebook column,
    sorted score-desc — struct comparison orders by the first field."""
    return F.reverse(
        F.array_sort(
            F.transform(
                F.col("__cents"),
                lambda ct: F.struct(
                    F.aggregate(
                        F.zip_with(col, ct["cv"], lambda a, b: a * b),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("s"),
                    ct["cid"].alias("cid"),
                ),
            )
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    Centroids = the n_centroids lowest-id corpus vectors (deterministic; a
    k-means refinement slots in without changing the plan shape). Corpus
    vectors are assigned to their nearest centroid in a single scan-side
    projection (centroids are collected once and inlined as literals — the
    standard small-codebook pattern; no shuffle, no cross join). Queries
    probe their n_probe nearest lists; candidates come from an equi-join on
    the list id.

    Scale: the corpus never shuffles for assignment; the candidate join is
    keyed by list id, so each query touches ~n_probe/n_centroids of the data.
    At 100 TB, partition (or Z-order) the corpus by list id so probes prune
    file scans.
    """
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv"))

    # codebook as a broadcast ONE-ROW DataFrame (array of (cid, vector)
    # structs) instead of a driver-side collect: plan construction stays
    # action-free, and the assignment is a 1-row broadcast cross join whose
    # per-vector argmax runs as a pure array expression — no row blowup, no
    # extra shuffle. A k-means-refined codebook snapshot slots in by
    # replacing `cent_row`.
    cent_row = codebook if codebook is not None else (
        c.orderBy("vec_id")
        .limit(n_centroids)
        .agg(F.collect_list(F.struct(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))).alias("__cents"))
    )

    assigned = (
        c.crossJoin(F.broadcast(cent_row))
        .withColumn("list_id", _ranked_lists(F.col("v"))[0]["cid"])
        .drop("__cents")
    )
    probes = (
        q.crossJoin(F.broadcast(cent_row))
        .withColumn("probe", F.explode(F.slice(_ranked_lists(F.col("qv")), 1, n_probe)))
        .select("query_id", "qv", F.col("probe.cid").alias("list_id"))
    )

    scored = (
        assigned.join(F.broadcast(probes), "list_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("score", F.round(cosine_maybe_unrolled(F.col("v"), F.col("qv"), dim), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )


def write_ivf_partitioned(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> None:
    """Materialize the IVF layout: corpus parquet PARTITIONED BY list_id
    (one directory per inverted list) plus the one-row codebook — the
    100 TB serving arrangement ivf_topk's docstring points at. A probe for
    n_probe lists then reads n_probe/n_centroids of the files instead of
    scanning the corpus; ivf_topk_partitioned shows the pruned plan.

    Assignment is the same broadcast-codebook argmax projection as
    ivf_topk (no shuffle). Before the write, one repartition on list_id +
    in-partition sort by vec_id coalesces each inverted list into a single
    parquet file with monotone vec_id row groups — without it, every write
    task fans out a file into every list directory (tasks × lists small
    files, the classic partitionBy mistake) and id lookups lose min-max
    pruning. At 100 TB raise n_centroids so single lists stay under the
    file-size sweet spot."""
    if n_centroids < 1:
        raise ValueError(f"n_centroids must be >= 1, got {n_centroids}")
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
    cent_row = codebook if codebook is not None else (
        c.orderBy("vec_id")
        .limit(n_centroids)
        .agg(F.collect_list(F.struct(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))).alias("__cents"))
    )
    assigned = (
        c.crossJoin(F.broadcast(cent_row))
        .withColumn("list_id", _ranked_lists(F.col("v"))[0]["cid"])
        .drop("__cents")
    )
    (
        assigned.repartition("list_id")
        .sortWithinPartitions("list_id", "vec_id")
        .write.partitionBy("list_id")
        .mode("overwrite")
        .parquet(f"{path}/corpus")
    )
    cent_row.write.mode("overwrite").parquet(f"{path}/codebook")


def ivf_topk_partitioned(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k over a write_ivf_partitioned layout with PARTITION
    PRUNING: the probe list ids are resolved first (one tiny action over the
    broadcast codebook — queries are an interactive batch, not a table) and
    pushed as a literal IN filter, so the corpus scan reads only the probed
    list directories (`PartitionFilters` in the plan; gated in tests).
    Candidate scoring matches ivf_topk exactly for the same codebook."""
    cent_row = spark.read.parquet(f"{path}/codebook")
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv"))
    probes = (
        q.crossJoin(F.broadcast(cent_row))
        .withColumn("probe", F.explode(F.slice(_ranked_lists(F.col("qv")), 1, n_probe)))
        .select("query_id", "qv", F.col("probe.cid").alias("list_id"))
    )
    probe_ids = [r["list_id"] for r in probes.select("list_id").distinct().collect()]
    corpus = spark.read.parquet(f"{path}/corpus").where(F.col("list_id").isin(probe_ids))
    scored = (
        corpus.join(F.broadcast(probes), "list_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("score", F.round(cosine_maybe_unrolled(F.col("v"), F.col("qv"), dim), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )


def _plane_weight(p: int, i: int) -> float:
    """Component i of hyperplane p: md5-derived uniform in [-1, 1). Pure
    Python (no Spark action, no numpy) and bit-for-bit reproducible in SQL as
    ('0x' || substr(md5(p || '|' || i), 1, 8))::BIGINT / 2^31 - 1, so the
    DuckDB oracle can rebuild the exact same buckets."""
    import hashlib

    return int(hashlib.md5(f"{p}|{i}".encode()).hexdigest()[:8], 16) / 2147483648.0 - 1.0


def lsh_band_table(
    df: DataFrame,
    id_alias: str,
    n_planes: int,
    rows_per_band: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, band, band_sig) — banded random-hyperplane signatures.

    Single-bucket sign-LSH has vanishing recall at realistic plane counts
    (P[all n bits agree] decays exponentially); banding trades candidates
    for recall exactly like minhash-LSH: two vectors are candidates if ANY
    band of rows_per_band sign bits matches. Plane constants are inlined
    literals (no driver-side Spark action at plan build).

    The plane dots are DELIBERATELY the interpreted aggregate/zip_with
    fold. r15 tried the statically-unrolled codegen sum (_plane_dot_sql,
    bit-identical accumulation order) in two shapes and both LOST to the
    fold at dim=64 (OPTIMIZATION_r15.md): n_planes·dim unrolled terms in
    the fused whole-stage-codegen processNext() blow janino's 64 KB
    method limit — inside WSCG the generated code cannot be split into
    per-expression methods once rows come from the fused pipeline — and
    the failed compile falls back to interpreted evaluation of the WHOLE
    stage plus a recompile attempt per execution (measured: ann_lsh_topk
    2.47 s fold vs 3.9-10.9 s unrolled; knn_graph_lsh 7.99 vs 15-20 s).
    A numpy-gemm mapInArrow batch dot would be faster still but changes
    the IEEE accumulation order, and these queries' oracles pin the exact
    bucket membership — rejected on the results-identical contract."""
    bits = []
    for p in range(n_planes):
        # parser-built literal (functions/lits.py): n_planes x dim F.lit
        # calls round-trip py4j per element and dominate plan build
        w = double_array_lit(_plane_weight(p, i) for i in range(dim))
        dot = F.aggregate(
            F.zip_with(F.col("__v"), w, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    n_bands = n_planes // rows_per_band
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(*bits[b * rows_per_band : (b + 1) * rows_per_band]).alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    return (
        df.select(
            F.col(id_col).alias(id_alias), F.col(vec_col).cast("array<double>").alias("__v")
        )
        .select(id_alias, F.explode(bands).alias("b"))
        .select(id_alias, F.col("b.band").alias("band"), F.col("b.band_sig").alias("band_sig"))
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 24,
    rows_per_band: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: banded hyperplane-LSH candidate generation, then
    exact cosine rescore. The 100 TB scale path — candidates come from an
    equi-join on (band, band_sig), never a cross join; recall vs brute force
    is pinned in tests (recall@10 ≥ 0.8 at the default 8 bands × 3 bits).

    `dim` is the embedding dimensionality (callers know their model width);
    taking it as a parameter keeps plan construction action-free."""
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv"))
    cb = lsh_band_table(corpus, "vec_id", n_planes, rows_per_band, dim, id_col, vec_col)
    qb = lsh_band_table(queries, "query_id", n_planes, rows_per_band, dim, id_col, vec_col)
    cand = (
        cb.join(F.broadcast(qb), ["band", "band_sig"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    scored = (
        cand.join(c, "vec_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("score", F.round(cosine(F.col("v"), F.col("qv")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )


LSH_MAX_CANDIDATE_PAIRS = 2_000_000_000
"""Default ceiling of the sign-LSH pre-flight guard on the band pair
volume Σ f·(f−1)/2 over bucket sizes f (calibration in docs/SHUFFLES.md)."""


def _lsh_band_pairs(
    bands: DataFrame, bucket_cap: int | None, max_candidate_pairs: int | None, what: str
) -> DataFrame:
    """Distinct (a_id, b_id) vec_id pairs, a_id < b_id, sharing a
    (band, band_sig) bucket of `bands`, after `bucket_cap` and the
    pre-flight volume guard. When the guard runs, the posting table is
    persisted first so the guard's action also materializes it for the
    pair explode."""
    from pyspark.storagelevel import StorageLevel

    post = postings(bands, ["band", "band_sig"], "vec_id", cap=bucket_cap)
    if max_candidate_pairs is not None:
        post = post.persist(StorageLevel.MEMORY_AND_DISK)
    guard_pair_volume(
        post,
        max_candidate_pairs,
        f"{what}: on weakly-clustered embeddings sign-LSH volume follows the "
        "1-theta/pi collision geometry and grows ~n^2. Run "
        "lsh_candidate_fraction to price the config, set bucket_cap (right "
        "when volume comes from a few degenerate buckets), switch to the IVF "
        "twin with n_centroids scaled to n (right when the geometry is the "
        "problem), or pass max_candidate_pairs=None to force through.",
    )
    return key_pairs(post).select("a_id", "b_id").distinct()


def embed_neardup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_planes: int = 24,
    rows_per_band: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_candidate_pairs: int | None = LSH_MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """Embedding near-duplicate pairs, LSH-bucketed: candidate pairs share at
    least one signature band; survivors are exact-cosine rescored against the
    threshold. Returns (a_id, b_id, score).

    This is the scale path for embed-cosine dedup: the all-pairs cross join
    (kept as the exact oracle baseline in the registry) is replaced by
    band-bucket posting lists — shuffle keyed by bucket, candidate volume
    governed by (n_planes, rows_per_band), never O(n²).

    Scores use the same round(x·1e6)-quantized components as the
    embed_neardup_blocked exact baseline (engine-exact, order-independent),
    so LSH output is a strict subset of the blocked baseline's pairs. The
    rescore itself is score_pairs_blocked — work O(|candidates|·dim) in
    vectorized batch math, never a per-pair vector join — with a quantized
    fold fallback (identical values) for non-integral id columns.

    `max_candidate_pairs` pre-flights the exact band pair volume and
    raises ValueError above it (pairs.guard_pair_volume, an eager action
    at plan build); None skips the check. Candidates come from one
    posting list per (band, band_sig) bucket (_lsh_band_pairs); ids must
    be orderable and NULL ids produce no pairs."""
    from pyspark.sql import types as T

    bands = lsh_band_table(embeddings, "vec_id", n_planes, rows_per_band, dim, id_col, vec_col)
    cand = _lsh_band_pairs(bands, None, max_candidate_pairs, "embed_neardup_lsh")
    if isinstance(
        embeddings.schema[id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        return score_pairs_blocked(
            cand, embeddings, threshold=threshold, id_col=id_col, vec_col=vec_col
        )
    # string-id fallback: per-pair join + fold over the SAME quantized
    # components — exact integer sums, so values match the kernel path
    v = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.transform(
            F.col(vec_col).cast("array<double>"), lambda x: F.round(x * 1.0e6)
        ).alias("v"),
    )
    from mine_database_spark.functions.vectors import dot, norm

    # zero-norm (all-zero-quantized) vectors have undefined cosine and must
    # drop — matching the einsum kernel path, which masks them out (numpy
    # NaN >= margin is False). A bare division would THROW under ANSI mode
    # (0/0), and Spark's NaN-ordering would otherwise rank NaN above every
    # threshold; the when() yields NULL instead, which the filter drops.
    # The SQL oracle's NOT isnan() clause drops the same pairs (DuckDB's
    # IEEE 0/0 is NaN, no error).
    denom = norm(F.col("va")) * norm(F.col("vb"))
    score = F.round(
        F.when(denom != 0, dot(F.col("va"), F.col("vb")) / denom), 4
    )
    return (
        cand.join(v.select(F.col("vec_id").alias("a_id"), F.col("v").alias("va")), "a_id")
        .join(v.select(F.col("vec_id").alias("b_id"), F.col("v").alias("vb")), "b_id")
        .withColumn("score", score)
        .where(F.col("score") >= threshold)
        .select("a_id", "b_id", "score")
    )


def embed_neardup_blocked(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_blocks: int = 8,
    quant_scale: float = 1.0e6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT all-pairs cosine near-duplicate pairs as a distributed blocked
    GEMM — the fast form of the brute-force baseline (the LSH twin
    `embed_neardup_lsh` remains the approximate 100 TB path).

    Why not a cross join: scoring each pair with a per-row aggregate over
    the two arrays evaluates interpreted (outside whole-stage codegen) and
    materializes O(n²) rows carrying both vectors — measured ~17 µs/pair.
    Here vectors are hashed into `n_blocks` blocks, the tiny (i ≤ j)
    block-pair table fans each block out, and a cogrouped applyInPandas
    computes each block×block score tile as ONE numpy matmul. Shuffle
    volume is O(n · n_blocks) vector rows — never O(n²) — and the Arrow
    output only carries pairs that pass the threshold.

    Exactness (the reason this can share a value-level SQL oracle): each
    component is quantized JVM-side to round(x · quant_scale) — an integer
    held in a double. With 64-dim vectors and |x| ≤ ~4, every pairwise
    product (≤ 2^46) and every dot-product sum (≤ 2^52) is an integer below
    2^53, so float64 matmul is EXACT integer arithmetic: the result is
    independent of summation order, BLAS blocking, or engine. The final
    score sqrt/divide/round sequence is the same three IEEE ops in numpy,
    Spark, and DuckDB, so values hash-match bit-for-bit. The UDF filters
    with a 6e-5 margin under the threshold; the exact `round(score, 4) >=
    threshold` cut happens JVM-side on the returned raw score.
    """
    import numpy as np
    import pandas as pd

    if n_blocks < 1:
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    from pyspark.sql import types as T

    id_type = embeddings.schema[id_col].dataType
    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        # the tile kernel packs ids into int64 numpy arrays and emits
        # bigint pairs; non-integral ids would crash inside the UDF at
        # runtime — fail at plan time with a pointer to the string-safe twin
        raise ValueError(
            f"embed_neardup_blocked needs an integral {id_col} (got {id_type});"
            " map ids to integers first or use embed_neardup_lsh"
        )
    spark = embeddings.sparkSession

    # the two cogroup sides are built as INDEPENDENT projections (fresh
    # Alias expression ids each call) — deriving both from one shared
    # DataFrame trips Spark's ambiguous-self-join analysis under cogroup
    def side(pair_key: str) -> DataFrame:
        q = embeddings.where(_valid_vec(vec_col)).select(
            F.col(id_col).alias("vec_id"),
            F.transform(
                F.col(vec_col).cast("array<double>"), lambda x: F.round(x * quant_scale)
            ).alias("q"),
            # cast matches score_pairs_blocked's bigint hashing (xxhash64
            # is type-sensitive; any consistent partition into blocks is
            # correct, this keeps the two kernels' cells aligned)
            F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_blocks)).cast("int").alias("blk"),
        )
        rng = spark.range(n_blocks).select(F.col("id").cast("int"))
        pairs = (
            rng.select(F.col("id").alias("i"))
            .crossJoin(rng.select(F.col("id").alias("j")))
            .where(F.col("i") <= F.col("j"))
        )
        return q.join(F.broadcast(pairs), q.blk == pairs[pair_key]).select(
            "i", "j", "vec_id", "q"
        )

    left, right = side("i"), side("j")
    margin = threshold - 6e-5

    def tile(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a_id": pd.Series(dtype="int64"),
                              "b_id": pd.Series(dtype="int64"),
                              "raw": pd.Series(dtype="float64")})
        if l.empty or r.empty:
            return empty
        same = l["i"].iat[0] == l["j"].iat[0]
        ia = l["vec_id"].to_numpy("int64")
        ib = r["vec_id"].to_numpy("int64")
        A = np.stack(l["q"].to_numpy())
        B = np.stack(r["q"].to_numpy())
        # exact integer math in float64: products <= 2^46, sums < 2^53
        S = A @ B.T
        denom = np.sqrt((A * A).sum(axis=1))[:, None] * np.sqrt((B * B).sum(axis=1))[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = S / denom
        mask = raw >= margin
        if same:
            mask &= ia[:, None] < ib[None, :]
        ai, bi = np.nonzero(mask)
        a, b = ia[ai], ib[bi]
        return pd.DataFrame(
            {"a_id": np.minimum(a, b), "b_id": np.maximum(a, b), "raw": raw[ai, bi]}
        )

    tiles = (
        left.groupBy("i", "j")
        .cogroup(right.groupBy("i", "j"))
        .applyInPandas(tile, schema="a_id bigint, b_id bigint, raw double")
    )
    return (
        tiles.withColumn("score", F.round(F.col("raw"), 4))
        .where(F.col("score") >= threshold)
        .select("a_id", "b_id", "score")
    )


def knn_graph(
    embeddings: DataFrame,
    k: int = 5,
    n_blocks: int = 8,
    quant_scale: float = 1.0e6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT k-nearest-neighbor graph over an embedding column: for every
    vector, its top-k cosine neighbors (self excluded), as a distributed
    blocked GEMM. This is the primitive under graph-based corpus curation —
    diversity sampling, density estimation, SemDeDup-style cluster audits —
    where every document needs neighbors, not just a query set
    (brute_force_topk serves the query-set case; its corpus×queries
    broadcast shape is wrong when queries == corpus).

    Returns (vec_id, rank, neighbor_id, score) with rank 1..k ordered by
    (exact raw score desc, neighbor_id asc); `score` is round(raw, 4).
    Zero/NULL vectors produce NaN cosines and are excluded on both sides,
    so they emit no rows and appear as nobody's neighbor — matching the
    SQL oracle's isnan filter.

    Exactness and determinism reuse embed_neardup_blocked's argument
    verbatim: components quantized JVM-side to round(x·quant_scale) make
    the float64 matmul exact integer arithmetic (order/BLAS/engine
    independent), so the raw ORDER itself — not just the rounded display
    score — is reproducible in DuckDB and the (raw desc, id asc) tile-local
    top-k composes into the identical global top-k.

    Scale: the block-pair grid is the FULL i×j square (each row needs
    candidates from every block, unlike the symmetric near-dup case), so
    shuffle volume is O(n · n_blocks) vector rows per side; each tile emits
    at most k rows per left-row, so the final per-vector top-k window sees
    O(n · n_blocks · k) candidate rows — bounded fan-in, never O(n²)
    materialized. Compute is the exact-baseline O(n²·d) inside numpy tiles;
    the approximate 100 TB twins — both recall-gated against this exact
    form — are knn_graph_ivf (coarse lists bound candidate volume; the
    production path, esp. on weakly-clustered embeddings) and
    knn_graph_lsh (banded hyperplane buckets; wins only when high-cosine
    neighbor structure is real — see its geometry note).
    """
    import numpy as np
    import pandas as pd

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_blocks < 1:
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    from pyspark.sql import types as T

    id_type = embeddings.schema[id_col].dataType
    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise ValueError(
            f"knn_graph needs an integral {id_col} (got {id_type});"
            " map ids to integers first or use lsh_bucketed_topk"
        )
    spark = embeddings.sparkSession

    # independent projections per cogroup side (fresh expression ids), same
    # reason as embed_neardup_blocked: a shared parent trips ambiguous-self-join
    def side(pair_key: str) -> DataFrame:
        q = embeddings.where(_valid_vec(vec_col)).select(
            F.col(id_col).alias("vec_id"),
            F.transform(
                F.col(vec_col).cast("array<double>"), lambda x: F.round(x * quant_scale)
            ).alias("q"),
            F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(n_blocks)).cast("int").alias("blk"),
        )
        rng = spark.range(n_blocks).select(F.col("id").cast("int"))
        # FULL grid — every left block meets every right block
        pairs = rng.select(F.col("id").alias("i")).crossJoin(
            rng.select(F.col("id").alias("j"))
        )
        return q.join(F.broadcast(pairs), q.blk == pairs[pair_key]).select(
            "i", "j", "vec_id", "q"
        )

    left, right = side("i"), side("j")

    def tile(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a_id": pd.Series(dtype="int64"),
                              "b_id": pd.Series(dtype="int64"),
                              "raw": pd.Series(dtype="float64")})
        if l.empty or r.empty:
            return empty
        ia = l["vec_id"].to_numpy("int64")
        ib = r["vec_id"].to_numpy("int64")
        # sort the right side by id so kind='stable' argsort below breaks
        # raw-score ties by neighbor id ascending — the global window order
        order_b = np.argsort(ib)
        ib = ib[order_b]
        A = np.stack(l["q"].to_numpy())
        B = np.stack(r["q"].to_numpy())[order_b]
        # exact integer math in float64: products <= 2^46, sums < 2^53
        S = A @ B.T
        denom = np.sqrt((A * A).sum(axis=1))[:, None] * np.sqrt((B * B).sum(axis=1))[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = S / denom
        bad = ~np.isfinite(raw) | (ia[:, None] == ib[None, :])
        raw = np.where(bad, -np.inf, raw)
        kk = min(k, raw.shape[1])
        top = np.argsort(-raw, axis=1, kind="stable")[:, :kk]
        rows = np.repeat(np.arange(raw.shape[0]), kk)
        cols = top.ravel()
        sel = raw[rows, cols]
        keep = np.isfinite(sel)
        return pd.DataFrame(
            {"a_id": ia[rows[keep]], "b_id": ib[cols[keep]], "raw": sel[keep]}
        )

    cand = (
        left.groupBy("i", "j")
        .cogroup(right.groupBy("i", "j"))
        .applyInPandas(tile, schema="a_id bigint, b_id bigint, raw double")
    )
    w = Window.partitionBy("a_id").orderBy(F.col("raw").desc(), F.col("b_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("b_id").alias("neighbor_id"),
            F.round(F.col("raw"), 4).alias("score"),
        )
    )


def knn_graph_lsh(
    embeddings: DataFrame,
    k: int = 5,
    n_planes: int = 24,
    rows_per_band: int = 3,
    dim: int = 64,
    bucket_cap: int | None = None,
    n_blocks: int = 8,
    quant_scale: float = 1.0e6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_candidate_pairs: int | None = LSH_MAX_CANDIDATE_PAIRS,
) -> DataFrame:
    """Approximate kNN graph via banded hyperplane-LSH: band-bucket posting
    lists for candidates, blocked batch rescore (score_pairs_blocked's cogrouped
    einsum — never a per-pair interpreted fold), per-vector top-k. Same
    output schema as knn_graph (vec_id, rank, neighbor_id, score; score is
    the quantized round-4 cosine); recall against the exact graph is
    pinned in pytest.

    Unlike lsh_bucketed_topk (whose broadcast-the-queries shape is right
    for a small query set and wrong when queries == corpus), every join
    here is a shuffle: bands group on (band, band_sig), vectors fan only
    to occupied score cells. Nothing corpus-sized is ever
    broadcast or cross-joined.

    WHEN TO USE WHICH TWIN: sign-LSH candidate volume is governed by the
    1 − θ/π collision geometry, so it degenerates on weakly-clustered
    embeddings — on this repo's near-uniform synthetic vectors the default
    8 bands × 3 bits admits ~65% of all pairs (measured), and tightening
    the bands collapses recall before it controls volume. For such data
    knn_graph_ivf (coarse-quantizer lists, volume governed by n_centroids
    regardless of geometry) is the production path; LSH wins when the
    corpus has genuine high-cosine neighbor structure. Measure before
    choosing: lsh_candidate_fraction (below) reports the admitted-pair
    fraction for a band config from the band join's own counts, with no
    rescore pass.

    `bucket_cap` drops (band, band_sig) buckets holding more than that many
    vectors before their posting list is built — a bucket of f vectors
    emits O(f²) candidate pairs, so one degenerate bucket (e.g. the shared
    signature of a mass of near-identical embeddings) is quadratic.
    Production at scale should set it; the vectors it affects are exactly
    the ones with hundreds of near-duplicates, whose top-k is served by
    any surviving band. None (default) keeps exact LSH semantics for the
    oracle. Vector ids must be unique when it is set (the cap counts rows).

    `max_candidate_pairs` pre-flights the exact band pair volume AFTER
    any bucket_cap (pairs.guard_pair_volume, an eager action at plan
    build) and raises ValueError above it; None skips the check.

    Candidates come from one posting list per bucket (_lsh_band_pairs);
    the unordered pairs are scored once and the symmetric closure the
    kNN window needs is emitted after the rescore."""
    if bucket_cap is not None and bucket_cap < 2:
        raise ValueError(f"bucket_cap must be >= 2 (or None), got {bucket_cap}")
    bands = lsh_band_table(embeddings, "vec_id", n_planes, rows_per_band, dim, id_col, vec_col)
    und = _lsh_band_pairs(bands, bucket_cap, max_candidate_pairs, "knn_graph_lsh")
    # threshold −1.1 < min cosine keeps every scored pair; NaN (zero-norm)
    # pairs fail the kernel's >= margin test and drop, matching the
    # oracle's isnan filter. Score each UNORDERED pair once and mirror
    # AFTER: the quantized kernel is exactly symmetric — the dot is
    # integer arithmetic below 2^53 and the norm product commutes, so
    # score(a, b) ≡ score(b, a) bit for bit — and scoring a < b only
    # halves both the einsum work and the pair shuffle.
    scored_und = score_pairs_blocked(
        und,
        embeddings,
        threshold=-1.1,
        n_blocks=n_blocks,
        quant_scale=quant_scale,
        id_col=id_col,
        vec_col=vec_col,
    )
    scored = scored_und.select(
        F.explode(
            F.array(
                F.struct(F.col("a_id"), F.col("b_id"), F.col("score")),
                F.struct(
                    F.col("b_id").alias("a_id"),
                    F.col("a_id").alias("b_id"),
                    F.col("score"),
                ),
            )
        ).alias("p")
    ).select("p.a_id", "p.b_id", "p.score")
    w = Window.partitionBy("a_id").orderBy(F.col("score").desc(), F.col("b_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("b_id").alias("neighbor_id"),
            "score",
        )
    )


def knn_graph_ivf(
    embeddings: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_assign: int = 2,
    sub_blocks: int = 1,
    quant_scale: float = 1.0e6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Approximate kNN graph via an IVF coarse quantizer — the production
    scale twin of knn_graph, and the one to use on weakly-clustered
    embeddings where sign-LSH banding degenerates (see knn_graph_lsh's
    geometry note): every vector joins its n_assign nearest coarse lists
    (multi-assignment covers list-boundary neighbors), candidates are
    vectors sharing a list, scored inside per-list numpy tiles with the
    same quantized exact-integer cosine as knn_graph. Same output schema
    (vec_id, rank, neighbor_id, score); recall vs the exact graph is
    pinned in pytest.

    Candidate volume is governed by LIST SIZES — O(Σ n_assign²·|list|²)
    pair scores, all inside tile matmuls — regardless of the similarity
    geometry, which is exactly what LSH cannot promise. Centroids default
    to the n_centroids lowest-id vectors (the ivf_topk convention; a
    kmeans_codebook snapshot slots into `codebook` without changing the
    plan). Shuffle volume is O(n · n_assign · sub_blocks) vector rows; a
    per-(a,b) max-dedup collapses pairs sharing several lists before the
    top-k window, so the window input is bounded by n · n_assign² · k.

    `sub_blocks` splits each list's RIGHT side into hash sub-blocks (the
    left side fans to all of them): one hot list — the IVF skew case —
    becomes sub_blocks independent tiles instead of one giant tile, at the
    price of replicating the left rows sub_blocks×. Leave at 1 until a
    list outgrows a task.
    """
    import numpy as np
    import pandas as pd

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_assign < 1:
        raise ValueError(f"n_assign must be >= 1, got {n_assign}")
    if sub_blocks < 1:
        raise ValueError(f"sub_blocks must be >= 1, got {sub_blocks}")
    from pyspark.sql import types as T

    id_type = embeddings.schema[id_col].dataType
    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise ValueError(
            f"knn_graph_ivf needs an integral {id_col} (got {id_type})"
        )
    spark = embeddings.sparkSession

    def side(right: bool) -> DataFrame:
        c = embeddings.where(_valid_vec(vec_col)).select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        cent = codebook if codebook is not None else (
            c.orderBy("vec_id")
            .limit(n_centroids)
            .agg(
                F.collect_list(
                    F.struct(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
                ).alias("__cents")
            )
        )
        assigned = (
            c.crossJoin(F.broadcast(cent))
            .select(
                "vec_id",
                F.transform(
                    F.col("v"), lambda x: F.round(x * quant_scale)
                ).alias("q"),
                F.explode(
                    F.transform(
                        F.slice(_ranked_lists(F.col("v")), 1, n_assign),
                        lambda s: s["cid"],
                    )
                ).alias("list_id"),
            )
        )
        if right:
            return assigned.withColumn(
                "sub", F.pmod(F.xxhash64(F.col("vec_id").cast("long")), F.lit(sub_blocks)).cast("int")
            )
        rng = spark.range(sub_blocks).select(F.col("id").cast("int").alias("sub"))
        return assigned.crossJoin(F.broadcast(rng))

    left, right = side(False), side(True)

    def tile(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a_id": pd.Series(dtype="int64"),
                              "b_id": pd.Series(dtype="int64"),
                              "raw": pd.Series(dtype="float64")})
        if l.empty or r.empty:
            return empty
        ia = l["vec_id"].to_numpy("int64")
        ib = r["vec_id"].to_numpy("int64")
        order_b = np.argsort(ib)
        ib = ib[order_b]
        A = np.stack(l["q"].to_numpy())
        B = np.stack(r["q"].to_numpy())[order_b]
        S = A @ B.T
        denom = np.sqrt((A * A).sum(axis=1))[:, None] * np.sqrt((B * B).sum(axis=1))[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = S / denom
        bad = ~np.isfinite(raw) | (ia[:, None] == ib[None, :])
        raw = np.where(bad, -np.inf, raw)
        kk = min(k, raw.shape[1])
        top = np.argsort(-raw, axis=1, kind="stable")[:, :kk]
        rows = np.repeat(np.arange(raw.shape[0]), kk)
        cols = top.ravel()
        sel = raw[rows, cols]
        keep = np.isfinite(sel)
        return pd.DataFrame(
            {"a_id": ia[rows[keep]], "b_id": ib[cols[keep]], "raw": sel[keep]}
        )

    cand = (
        left.groupBy("list_id", "sub")
        .cogroup(right.groupBy("list_id", "sub"))
        .applyInPandas(tile, schema="a_id bigint, b_id bigint, raw double")
    )
    # pairs sharing several lists emit identical (a, b, raw) rows from each
    # tile — collapse them (max of equal values; map-side combinable)
    # before ranking or a duplicated neighbor would burn two rank slots
    ded = cand.groupBy("a_id", "b_id").agg(F.max("raw").alias("raw"))
    w = Window.partitionBy("a_id").orderBy(F.col("raw").desc(), F.col("b_id"))
    return (
        ded.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("b_id").alias("neighbor_id"),
            F.round(F.col("raw"), 4).alias("score"),
        )
    )


def score_pairs_blocked(
    pairs: DataFrame,
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_blocks: int = 8,
    quant_scale: float = 1.0e6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine scores for an explicit CANDIDATE PAIR list — the
    rescore half of every candidate-generation scheme (LSH bands, minhash,
    IVF) as vectorized batch math instead of a per-pair join + interpreted
    fold.

    `pairs` is (a_id, b_id); returns (a_id, b_id, score) for pairs with
    round(score, 4) >= threshold. Work is O(|pairs| · dim), NEVER O(n²):
    pairs group by their (block(a), block(b)) cell, vectors replicate to
    the cells that need them (2 · n_blocks narrow rows per vector), and a
    cogrouped kernel gathers each cell's vectors into matrices and scores
    its pair list with one row-wise einsum. No per-pair vector
    materialization ever crosses a shuffle.

    Same exactness contract as embed_neardup_blocked: components quantize
    JVM-side to round(x · quant_scale) integers, so every product and sum
    is exact in float64 regardless of order — scores are engine-exact and
    SQL-oracle-checkable. Ids must be integral (same int64 kernel).
    """
    if n_blocks < 1:
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    from pyspark.sql import types as T

    id_type = embeddings.schema[id_col].dataType
    if not isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        raise ValueError(
            f"score_pairs_blocked needs an integral {id_col} (got {id_type})"
        )
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    # xxhash64 is TYPE-sensitive (hash(7 as int) != hash(7 as bigint)) —
    # the pairs frame and the embeddings id column may legitimately differ
    # in width, so both sides hash the value as bigint or pairs would land
    # in cells whose vector set doesn't contain them (silent drops)
    blk = lambda c: F.pmod(F.xxhash64(c.cast("long")), F.lit(n_blocks)).cast("int")
    keyed_pairs = pairs.select(
        F.col("a_id"), F.col("b_id"), blk(F.col("a_id")).alias("i"), blk(F.col("b_id")).alias("j")
    )

    # vectors replicated to every cell that can reference them: as the "a"
    # role (their block is i, any j) and the "b" role (any i). Built as an
    # independent projection per role (fresh exprIds — cogroup's
    # ambiguous-self-join check).
    def role(side: str) -> DataFrame:
        q = embeddings.where(_valid_vec(vec_col)).select(
            F.col(id_col).alias("vid"),
            F.transform(
                F.col(vec_col).cast("array<double>"), lambda x: F.round(x * quant_scale)
            ).alias("q"),
            blk(F.col(id_col)).alias("blk"),
        )
        other = spark.range(n_blocks).select(F.col("id").cast("int").alias("other"))
        if side == "a":
            return q.crossJoin(F.broadcast(other)).select(
                F.col("blk").alias("i"), F.col("other").alias("j"), "vid", "q"
            )
        return q.crossJoin(F.broadcast(other)).select(
            F.col("other").alias("i"), F.col("blk").alias("j"), "vid", "q"
        )

    # ship vectors only to cells that actually hold candidate pairs — the
    # occupied-cell list is at most n_blocks² rows, and a sparse pair list
    # (high threshold, few candidates) would otherwise Arrow-serialize full
    # vector slices into cells the kernel immediately returns empty for
    occupied = keyed_pairs.select("i", "j").distinct()
    vecs = (
        role("a")
        .unionByName(role("b"))
        .join(F.broadcast(occupied), ["i", "j"], "left_semi")
    )
    margin = threshold - 6e-5

    def cell(p: pd.DataFrame, v: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a_id": pd.Series(dtype="int64"),
                              "b_id": pd.Series(dtype="int64"),
                              "raw": pd.Series(dtype="float64")})
        if p.empty or v.empty:
            return empty
        # duplicate vids (a-role + b-role rows when i == j) collapse here
        v = v.drop_duplicates("vid")
        ids = v["vid"].to_numpy("int64")
        M = np.stack(v["q"].to_numpy())
        pos = {int(x): k for k, x in enumerate(ids)}
        ia = p["a_id"].to_numpy("int64")
        ib = p["b_id"].to_numpy("int64")
        ka = np.array([pos.get(int(x), -1) for x in ia])
        kb = np.array([pos.get(int(x), -1) for x in ib])
        ok = (ka >= 0) & (kb >= 0)  # pairs referencing NULL-embedding ids drop
        if not ok.any():
            return empty
        A, B = M[ka[ok]], M[kb[ok]]
        dots = np.einsum("ij,ij->i", A, B)  # exact: integer math in float64
        norms = np.sqrt(np.einsum("ij,ij->i", M, M))
        with np.errstate(divide="ignore", invalid="ignore"):
            raw = dots / (norms[ka[ok]] * norms[kb[ok]])
        m = raw >= margin
        return pd.DataFrame({"a_id": ia[ok][m], "b_id": ib[ok][m], "raw": raw[m]})

    scored = (
        keyed_pairs.groupBy("i", "j")
        .cogroup(vecs.groupBy("i", "j"))
        .applyInPandas(cell, schema="a_id bigint, b_id bigint, raw double")
    )
    return (
        scored.withColumn("score", F.round(F.col("raw"), 4))
        .where(F.col("score") >= threshold)
        .select("a_id", "b_id", "score")
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.7,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
    n_blocks: int = 8,
    storage_level=None,
) -> DataFrame:
    """Semantic deduplication, SemDeDup-style (Abbas et al. 2023,
    arXiv:2303.09540 — public paper): cluster the corpus embeddings with
    the IVF coarse quantizer, score pairs ONLY within a cluster, and keep
    one representative per near-duplicate set. Returns the SURVIVORS as
    (vec_id, list_id).

    Dedup policy, chosen to be deterministic and SQL-oracle-checkable: a
    vector drops iff some LOWER-id vector in its cluster scores
    round(cos, 4) >= threshold against it — the keep-lowest-id greedy
    (the first-wins convention the text dedup family uses). Clustering is
    the same deterministic machinery as ivf_topk: seeded centroids (the
    n_clusters lowest-id vectors; pass a kmeans_codebook for trained
    cells), max-dot assignment with the highest-cid tiebreak.

    Scale: assignment is a broadcast scan projection (no shuffle);
    within-cluster pairs come from one posting list per list_id
    (pairs.key_pairs) — O(Σ cluster²) candidate pairs, governed by n_clusters (pick
    ~sqrt(corpus) cells so cluster sizes stay bounded), NEVER the global
    all-pairs; scoring is the blocked cogrouped kernel
    (score_pairs_blocked), O(pairs·dim) with exact quantized components.
    """
    c = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cent_row = codebook if codebook is not None else (
        c.orderBy("vec_id")
        .limit(n_clusters)
        .agg(F.collect_list(F.struct(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))).alias("__cents"))
    )
    # NOTE: this (vec_id, list_id) projection appears twice in the final
    # plan (the posting lists + the anti-join's left side), and the
    # centroid-ranking HOF inside it evaluates interpreted — `storage_level`
    # (MEMORY_AND_DISK in the registered form) lazily persists it so the assignment scan runs ONCE per execution;
    # the table is two ids per vector, safe to pin at any scale. None
    # keeps pure recompute (callers at 100 TB may instead pass a stored
    # kmeans_codebook and materialize the assignment themselves).
    assigned = (
        c.crossJoin(F.broadcast(cent_row))
        .withColumn("list_id", _ranked_lists(F.col("v"))[0]["cid"])
        .select("vec_id", "list_id")
    )
    if storage_level is not None:
        assigned = assigned.persist(storage_level)
    pairs = key_pairs(postings(assigned, ["list_id"], "vec_id")).select("a_id", "b_id")
    dup_pairs = score_pairs_blocked(
        pairs, embeddings, threshold=threshold, n_blocks=n_blocks,
        id_col=id_col, vec_col=vec_col,
    )
    dups = dup_pairs.select(F.col("b_id").alias("vec_id")).distinct()
    return assigned.join(dups, "vec_id", "left_anti")


def _unit(v):
    """L2-normalized copy of array column `v`; all-zero vectors pass
    through unchanged (the when() also keeps ANSI mode from throwing on
    the 0/0 division)."""
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when(n != 0, F.transform(v, lambda x: x / n)).otherwise(v)


def _unit_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    out_id: str = "vec_id",
) -> DataFrame:
    """(out_id, v): L2-normalized vectors for a KNOWN dimensionality, as
    TWO stacked projections — the norm is its own column (`__n`) and the
    divisions reference that attribute.

    Why not one unrolled expression: inside a single expression the norm
    subtree sits in a when() branch, which codegen's subexpression
    elimination skips, so it inlines into all dim divisions + the
    condition (65 copies at dim=64), trips janino's 64 KB method limit,
    and — worse than the interpreted fallback itself — the FAILED compile
    re-runs on every execution of the plan (measured ~8s per run on a
    5-row input). Two projections keep every generated method small.
    CollapseProject cannot re-merge them: `__n` is non-cheap and
    referenced dim+1 times. Same IEEE order as _unit's fold; all-zero
    vectors pass through unchanged."""
    vec = F.col(vec_col).cast("array<double>")
    raw = df.select(F.col(id_col).alias(out_id), vec.alias("__r"))
    # get() (NULL past the end) instead of [i] (ANSI error): a vector
    # shorter than dim yields a NULL norm, routed below to the fold-form
    # _unit, which normalizes the ACTUAL array length — same guard shape
    # as cosine_maybe_unrolled, instead of erroring or (worse) passing the
    # raw vector through un-normalized
    nsum = " + ".join(f"get(__r, {i}) * get(__r, {i})" for i in range(dim))
    withn = raw.select(out_id, "__r", F.expr(f"SQRT({nsum})").alias("__n"))
    divs = ", ".join(f"get(__r, {i}) / __n" for i in range(dim))
    # one selectExpr-style parsed expression per branch: per-element
    # F.expr()s would each pay a py4j round trip during plan construction
    return withn.select(
        out_id,
        F.when(F.col("__n").isNull() | (F.size("__r") != dim), _unit(F.col("__r")))
        .when(F.col("__n") != 0, F.expr(f"array({divs})"))
        .otherwise(F.col("__r"))
        .alias("v"),
    )


def pq_codebook(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Product-quantization codebook as a ONE-ROW broadcastable DataFrame:
    `__pq` = array over the m subspaces of (sub, cents: array of (cid,
    subvector)). Deterministic seeding (the ks lowest-id vectors'
    subvectors, the ivf_topk convention) keeps plan construction
    action-free and results reproducible; a Lloyd refinement per subspace
    slots in exactly like kmeans_codebook does for IVF.

    PQ is the memory-bound piece of billion-scale ANN: codes compress each
    vector to m small ints (m·log2(ks) bits — 4 bytes here vs 256 for the
    raw floats), so the scan side of serving fits in RAM at corpus sizes
    where raw vectors cannot.
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} must divide into m={m} subspaces")
    sub = dim // m
    vec = F.col(vec_col).cast("array<double>")
    # order by id over the RAW vectors and only normalize the ks winners —
    # normalizing first would pay the unit projection for the whole corpus
    # inside TakeOrdered; then build all m subspaces from the ONE collected
    # seed list (the previous m-way unionByName re-executed the seed
    # sort-limit m times and shuffled twice to regroup what a single
    # projection expresses)
    topk = corpus.select(F.col(id_col).alias("vec_id"), vec.alias("__v0")).orderBy("vec_id").limit(ks)
    seeds = (
        _unit_select(topk, "vec_id", "__v0", dim)
        if normalize
        else topk.select("vec_id", F.col("__v0").alias("v"))
    )
    # slice per row BEFORE collecting (m tiny collect_lists in ONE agg):
    # slicing the seed vectors inside a transform over the collected list
    # corrupts the later entries on Spark 4.1 (the HOF re-binds its lambda
    # variable to reused UnsafeArrayData, so slices of an array nested in a
    # struct alias stale buffers — observed as empty cv for the second half
    # of the seeds), and the per-row form is simpler anyway
    one = seeds.agg(
        *[
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("vec_id").alias("cid"),
                        F.slice(F.col("v"), s * sub + 1, sub).alias("cv"),
                    )
                )
            ).alias(f"__c{s}")
            for s in range(m)
        ]
    )
    return one.select(
        F.array(
            *[
                F.struct(F.lit(s).alias("sub"), F.col(f"__c{s}").alias("cents"))
                for s in range(m)
            ]
        ).alias("__pq")
    )


def _pq_sub_codes(v_col: str, m: int, sub: int):
    """codes[s] = position (0-based) of the L2-nearest centroid of
    subspace s for the vector in column `v_col`, evaluated against the
    broadcast `__pq` column. Deterministic tiebreak: lowest position wins
    (array_sort on (dist, pos) structs orders by dist then pos).

    Both loops that a fold would run per row — over the m subspaces and
    over the dim/m elements of each squared-L2 term — unroll into one
    parsed expression (m and sub are known at plan time), eliminating the
    interpreted aggregate/zip_with lambdas and their per-element array
    allocations on the corpus scan. Accumulation order matches the old
    fold exactly (left-to-right from the first term; IEEE 0.0+x == x), so
    codes are bit-identical.

    Vector accesses go through get() (NULL past the end) rather than [i]
    (ANSI error) so a too-short vector yields NULL distances that resolve
    to the lowest-position tiebreak code under BOTH ANSI settings — the
    same guard as the compiled literal-inlined encode. ct.cv[j] keeps
    plain indexing: centroids are length-`sub` by construction
    (pq_codebook builds them), never short."""
    def code_for(s: int) -> str:
        dist = " + ".join(
            f"(get({v_col}, {s * sub + j}) - ct.cv[{j}]) * (get({v_col}, {s * sub + j}) - ct.cv[{j}])"
            for j in range(sub)
        )
        return (
            f"array_sort(transform(__pq[{s}].cents, (ct, i) -> "
            f"struct(({dist}) AS d, i AS pos)))[0].pos"
        )

    return F.array(*[F.expr(code_for(s)) for s in range(m)])


def _pq_lut_expr(q_col: str, m: int, sub: int) -> Column:
    """lut[s][c] = dot(query subvector s, centroid c of subspace s) against
    the broadcast `__pq` column, as a parsed expression with the dot
    statically unrolled (same fold order as aggregate/zip_with)."""
    inner = []
    for s in range(m):
        dot = " + ".join(f"{q_col}[{s * sub + j}] * ct.cv[{j}]" for j in range(sub))
        inner.append(f"transform(__pq[{s}].cents, ct -> ({dot}))")
    return F.expr("array(" + ", ".join(inner) + ")")


def _pq_adc_expr(m: int) -> Column:
    """Σ_s lut[s][codes[s]] as one HOF-free parsed expression — static
    0-based array indexing compiles inside whole-stage codegen, unlike the
    interpreted aggregate-over-sequence fold it replaces (same IEEE sum
    order: left-to-right)."""
    return F.expr(" + ".join(f"lut[{s}][codes[{s}]]" for s in range(m)))


def _pq_encode_inlined(
    corpus: DataFrame,
    pq: list,
    m: int,
    sub: int,
    dim: int,
    id_col: str,
    vec_col: str,
    normalize: bool,
) -> DataFrame:
    """Compiled encode against a COLLECTED codebook (`pq` = the `__pq`
    value): centroid components become double literals in the plan, so
    there is no join at all — just one whole-stage-codegen scan.

    Why this shape (each alternative was measured at sf0.1):
    - attaching the 1-row codebook DataFrame needs a BroadcastNestedLoop
      join, which never enters whole-stage codegen, so every distance
      expression above it evaluates interpreted (~17s vs 0.9s here);
    - one giant codes expression trips janino's 64 KB method limit and
      the whole projection falls back to interpreted eval — splitting the
      m*ks distances into separate COLUMNS gives each its own generated
      method;
    - the explode([1]) Generate is a deliberate CollapseProject barrier:
      without it the optimizer folds the distance columns back into one
      giant codes expression (each is referenced exactly once, so the
      collapse heuristic allows it) and re-trips the method limit.

    The argmin score is the EXPANDED squared-L2 form
        score(c) = Σ_j cv_j²  −  2·(Σ_j r_j·cv_j / n)
    which drops the Σ v_j² term (constant across a subspace's centroids,
    so the argmin is unchanged) and never materializes the normalized
    vector — this roughly halves the generated code vs (v_j − cv_j)²
    terms, which matters because expressions cannot split into helper
    methods inside whole-stage codegen and the full-form pipeline tripped
    janino's 64 KB method limit as one fused stage (the failed compile
    re-runs every execution, ~8s a pass). Σ cv_j² is a Python-computed
    literal (same left-to-right IEEE order as the oracle's unrolled sum).
    Tiebreak is lowest position (least() on (score, pos) structs is
    lexicographic). The registered DuckDB oracle computes the identical
    expression, so codes match bit-for-bit cross-engine."""
    vec = F.col(vec_col).cast("array<double>")
    raw = corpus.select(F.col(id_col).alias("vec_id"), vec.alias("__r"))
    if normalize:
        # get() (NULL past the end) instead of [i] (ANSI error): a vector
        # shorter than dim yields NULL distances, which both argmin forms
        # resolve to the deterministic lowest-position tiebreak — the SAME
        # outcome under both ANSI settings and in both encode paths,
        # instead of diverging into a runtime error when ANSI is on
        nsum = " + ".join(f"get(__r, {i}) * get(__r, {i})" for i in range(dim))
        # all-zero vectors: _unit passes them through unchanged, which is
        # exactly a divide-by-1
        c = raw.selectExpr(
            "vec_id",
            "__r",
            f"CASE WHEN SQRT({nsum}) = 0.0D THEN 1.0D ELSE SQRT({nsum}) END AS __nz",
        )
    else:
        c = raw.selectExpr("vec_id", "__r", "1.0D AS __nz")
    dcols, argmins = [], []
    for s_entry in pq:
        s = int(s_entry["sub"])
        cents = s_entry["cents"]
        if not cents:
            raise ValueError(f"PQ codebook subspace {s} has no centroids")
        for ci, ct in enumerate(cents):
            # string-cast literals: repr() round-trips the double exactly
            # and survives exponent forms like 1e-05; the cast constant-
            # folds to a plain double literal during optimization
            csq = 0.0
            for j in range(sub):
                csq = csq + ct["cv"][j] * ct["cv"][j]
            dot = " + ".join(
                f"get(__r, {s * sub + j}) * CAST('{ct['cv'][j]!r}' AS DOUBLE)"
                for j in range(sub)
            )
            dcols.append(
                f"CAST('{csq!r}' AS DOUBLE) - 2.0D * (({dot}) / __nz) AS __d_{s}_{ci}"
            )
        cands = ", ".join(
            f"struct(__d_{s}_{ci} AS d, {ci} AS pos)" for ci in range(len(cents))
        )
        argmins.append(f"least({cands}).pos" if len(cents) > 1 else f"({cands}).pos")
    # selectExpr batches every column into one py4j call — with m*ks
    # per-centroid F.expr() columns the round trips dominate build time
    d = c.selectExpr("vec_id", *dcols).withColumn(
        "__g", F.explode(F.array(F.lit(1)))
    )
    return d.selectExpr(
        "vec_id", f"CAST(array({', '.join(argmins)}) AS array<int>) AS codes"
    )


def _pq_luts(q: DataFrame, codebook: "DataFrame | list", m: int, sub: int) -> DataFrame:
    """(query_id, lut) per query — lut[s][c] = dot(query subvector s,
    centroid c). A DataFrame codebook broadcast-joins (action-free, HOF
    evaluation — fine for query-sized row counts); a collected codebook
    value inlines centroids as literals: dot per (s, c) column, Generate
    barrier against CollapseProject, then gathered into the
    array-of-arrays lut — same fold order either way."""
    if isinstance(codebook, DataFrame):
        return (
            q.crossJoin(F.broadcast(codebook))
            .select("query_id", _pq_lut_expr("qv", m, sub).alias("lut"))
        )
    qcols = []
    for s_entry in codebook:
        s = int(s_entry["sub"])
        for ci, ct in enumerate(s_entry["cents"]):
            dot = " + ".join(
                f"qv[{s * sub + j}] * CAST('{ct['cv'][j]!r}' AS DOUBLE)"
                for j in range(sub)
            )
            qcols.append(f"{dot} AS __l_{s}_{ci}")
    lrow = q.selectExpr("query_id", *qcols).withColumn(
        "__g", F.explode(F.array(F.lit(1)))
    )
    gather = ", ".join(
        "array("
        + ", ".join(f"__l_{int(se['sub'])}_{ci}" for ci in range(len(se["cents"])))
        + ")"
        for se in codebook
    )
    return lrow.selectExpr("query_id", f"array({gather}) AS lut")


def collect_pq_codebook(codebook: DataFrame) -> list:
    """Materialize a one-row `__pq` codebook DataFrame into its plain
    value (list of Rows) — the m·ks·(dim/m) doubles of a PQ codebook are
    driver-sized by construction. Collect ONCE and hand the value to both
    pq_encode and pq_topk so the codebook job runs a single time."""
    return codebook.collect()[0]["__pq"]


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame | list,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    ks: int | None = None,
) -> DataFrame:
    """(vec_id, codes array<int> of length m): each subspace's L2-nearest
    centroid position, computed in a single corpus scan — no shuffle; the
    corpus never moves.

    Pass `ks` (any non-None value opts in; the codebook's true per-subspace
    centroid counts are read from the codebook itself), or pass the
    codebook as an already-collected value (collect_pq_codebook), to
    compile the encode: the tiny codebook is collected once on the driver
    — the same bounded-dimension exception ivf_topk's probe pushdown
    makes — and its centroids inline as literals so the whole encode is
    one codegen scan stage (~20x the interpreted form). Without either,
    the plan stays fully action-free: a transform() over the broadcast
    centroid list, correct at any codebook shape but interpreted."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} must divide into m={m} subspaces")
    sub = dim // m
    if ks is not None or not isinstance(codebook, DataFrame):
        pq = codebook if not isinstance(codebook, DataFrame) else collect_pq_codebook(codebook)
        if ks is not None:
            # ks keeps its meaning as the codebook's centroid-count bound
            # (not just an opt-in flag): a codebook wider than the caller
            # believes is a config mismatch, not something to quietly encode
            widest = max((len(se["cents"]) for se in pq), default=0)
            if widest > ks:
                raise ValueError(
                    f"codebook holds up to {widest} centroids per subspace, more than ks={ks}"
                )
        return _pq_encode_inlined(corpus, pq, m, sub, dim, id_col, vec_col, normalize)
    vec = F.col(vec_col).cast("array<double>")
    # HOF path: keep the fold-style _unit — inside an interpreted
    # transform() body the unrolled normalize would re-evaluate at
    # every element reference (no CSE outside codegen)
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        (_unit(vec) if normalize else vec).alias("v"),
    )
    return (
        c.crossJoin(F.broadcast(codebook))
        .select("vec_id", _pq_sub_codes("v", m, sub).cast("array<int>").alias("codes"))
    )


def pq_topk(
    codes: DataFrame,
    codebook: DataFrame | list,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """Approximate top-k by asymmetric distance computation (ADC): each
    query precomputes a lookup table lut[s][c] = dot(query subvector,
    centroid c of subspace s) against the codebook; a code's approximate
    dot product is then Σ_s lut[s][codes[s]] — m array lookups per corpus
    row, never a dot product against raw vectors.

    Accepts the codebook as a DataFrame (broadcast-joined, action-free)
    or as a collected value (collect_pq_codebook) — the latter inlines
    the centroids as literals so the LUT build needs no join and the
    codebook job is not re-executed inside this plan.

    Returns (query_id, rank, vec_id, approx_score[round 4]); rank by
    (approx score desc, vec_id). Candidates from PQ scores are normally
    exact-rescored (brute_force_topk on the shortlist) — kept separate so
    the scan side of serving only ever touches the 4-byte codes.
    """
    sub = dim // m
    qvec = F.col(vec_col).cast("array<double>")
    q = (
        _unit_select(queries, id_col, vec_col, dim, out_id="query_id")
        .withColumnRenamed("v", "qv")
        if normalize
        else queries.select(F.col(id_col).alias("query_id"), qvec.alias("qv"))
    )
    luts = _pq_luts(q, codebook, m, sub)
    scored = (
        codes.crossJoin(F.broadcast(luts))
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("approx_score", F.round(_pq_adc_expr(m), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("approx_score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "approx_score")
    )


def pq_codebook_trained(
    corpus: DataFrame,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Lloyd-trained PQ codebook (same one-row `__pq` shape as
    pq_codebook): per subspace, k-means on the corpus subvectors —
    deterministic seeds (ks lowest-id vectors), L2 assignment, mean
    update. All m subspaces train in the SAME jobs: subvectors explode
    once per iteration and group on (sub, code, pos) — two map-side-
    combinable aggregations of at most m·ks·(dim/m) rows each round.

    Scale: train on a sample (`sample_fraction`) exactly like
    kmeans_codebook, `n_iter` rounds on `iterate`; the corpus-wide passes are the encode/serve steps,
    not training. Empty clusters drop (fewer centroids in that subspace
    only degrades compression granularity, never correctness — codes are
    positions in the per-subspace centroid list)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} must divide into m={m} subspaces")
    sub = dim // m
    vec = F.col(vec_col).cast("array<double>")
    c = (
        _unit_select(corpus, id_col, vec_col, dim)
        if normalize
        else corpus.select(F.col(id_col).alias("vec_id"), vec.alias("v"))
    )
    if sample_fraction is not None:
        c = c.sample(fraction=sample_fraction, seed=7)
    rows = c.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice(F.col("v"), s * sub + 1, sub) for s in range(m)])
        ).alias("sub", "sv"),
    )
    cb = pq_codebook(c.select("vec_id", F.col("v").alias(vec_col)), m, ks, dim,
                     vec_col=vec_col, normalize=False)
    # subspace id is a row value here (column `sub`), so only the inner
    # squared-L2 fold unrolls; same IEEE order as the zip_with fold
    dist = " + ".join(
        f"(sv[{j}] - ct.cv[{j}]) * (sv[{j}] - ct.cv[{j}])" for j in range(sub)
    )
    code = F.expr(
        f"array_sort(transform(__pq[sub].cents, (ct, i) -> "
        f"struct(({dist}) AS d, i AS pos)))[0].pos"
    )

    def step(history):
        assigned = rows.crossJoin(F.broadcast(history[-1])).select("sub", "sv", code.alias("code"))
        dims = assigned.select("sub", "code", F.posexplode("sv").alias("pos", "x"))
        means = dims.groupBy("sub", "code", "pos").agg(F.avg("x").alias("mu"))
        cents = means.groupBy("sub", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mu"))), lambda t: t["mu"]
            ).alias("cv")
        )
        subs = cents.groupBy("sub").agg(
            F.array_sort(F.collect_list(F.struct(F.col("code").alias("cid"), "cv"))).alias("cents")
        )
        return subs.agg(F.array_sort(F.collect_list(F.struct("sub", "cents"))).alias("__pq"))

    # fixed rounds, no done(): float means are not bit-stable across rounds
    return iterate(cb, step, max_rounds=n_iter)[0][-1]


def pq_topk_rescored(
    corpus: DataFrame,
    codes: DataFrame,
    codebook: DataFrame | list,
    queries: DataFrame,
    k: int = 10,
    shortlist: int | None = None,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production PQ serving shape: ADC over the compressed codes
    produces a `shortlist` (default 5k) of candidates per query, and ONLY
    those rows fetch their raw vectors for an exact cosine re-rank to the
    final top-k. Returns (query_id, rank, vec_id, score) with the same
    schema/semantics as brute_force_topk — measured recall@10 ≈ 0.96 at
    (m=16, ks=64, shortlist=50) on the synthetic corpus vs 0.64 for raw
    ADC ranks.

    Scale: the full corpus scan touches m·log2(ks) BITS per vector (the
    codes); raw vectors are read for O(n_queries · shortlist) rows via an
    equi-join — the memory/IO asymmetry that makes PQ the billion-scale
    layout."""
    shortlist = shortlist or 5 * k
    cand = pq_topk(
        codes, codebook, queries, k=shortlist, m=m, dim=dim, id_col=id_col, vec_col=vec_col
    ).select("query_id", "vec_id")
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    scored = (
        cand.join(c, "vec_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("score", F.round(cosine(F.col("v"), F.col("qv")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
    pq_codebook_df: DataFrame | list | None = None,
) -> DataFrame:
    """IVF+PQ — the canonical billion-scale ANN index, composed from the
    engine's own pieces: an IVF coarse quantizer prunes the corpus to
    n_probe inverted lists per query, the pruned candidates score by PQ
    asymmetric-distance lookups over their 4-byte codes, and the ADC
    shortlist (default 5k) exact-rescores from raw vectors.

    Returns (query_id, rank, vec_id, score) — brute_force_topk's schema;
    with n_probe = n_centroids and an unbounded shortlist the output
    EQUALS brute force exactly (pinned in tests), because rescore is the
    exact cosine and full probing makes candidate generation lossless.

    Scale: the stored index is (vec_id, list_id, codes) — built with two
    broadcast scan projections, no corpus shuffle; a query touches
    ~n_probe/n_centroids of the code rows (partition the store by list_id
    for file pruning, as write_ivf_partitioned does for raw IVF) and
    fetches raw vectors only for the shortlist."""
    shortlist = shortlist or 5 * k
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    cent_row = codebook if codebook is not None else (
        c.orderBy("vec_id")
        .limit(n_centroids)
        .agg(F.collect_list(F.struct(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))).alias("__cents"))
    )
    pq_cb = pq_codebook_df if pq_codebook_df is not None else pq_codebook(
        corpus, m=m, ks=ks, dim=dim, id_col=id_col, vec_col=vec_col
    )
    # collect the tiny PQ codebook ONCE and hand the VALUE to both the
    # encode and the LUT build — a DataFrame codebook here would run the
    # codebook job twice (collect inside pq_encode + the broadcast lineage
    # under luts) and put the LUT behind the BroadcastNestedLoop shape the
    # compiled encode exists to avoid
    pqv = pq_cb if not isinstance(pq_cb, DataFrame) else collect_pq_codebook(pq_cb)

    # the stored index: coarse list id + PQ codes per vector — two
    # broadcast projections over one corpus scan, no shuffle
    assigned = (
        c.crossJoin(F.broadcast(cent_row))
        .withColumn("list_id", _ranked_lists(F.col("v"))[0]["cid"])
        .drop("__cents")
    )
    codes = pq_encode(corpus, pqv, m=m, dim=dim, id_col=id_col, vec_col=vec_col, ks=ks)
    index = assigned.select("vec_id", "list_id").join(codes, "vec_id")

    probes = (
        q.crossJoin(F.broadcast(cent_row))
        .withColumn("probe", F.explode(F.slice(_ranked_lists(F.col("qv")), 1, n_probe)))
        .select("query_id", F.col("probe")["cid"].alias("list_id"))
    )
    sub = dim // m
    qn = _unit_select(q, "query_id", "qv", dim, out_id="query_id").withColumnRenamed("v", "qv")
    luts = _pq_luts(qn, pqv, m, sub)
    cand = index.join(F.broadcast(probes), "list_id").where(
        F.col("vec_id") != F.col("query_id")
    )
    adc = cand.join(F.broadcast(luts), "query_id").withColumn(
        "approx", _pq_adc_expr(m)
    )
    ws = Window.partitionBy("query_id").orderBy(F.col("approx").desc(), F.col("vec_id"))
    short = (
        adc.withColumn("srank", F.row_number().over(ws))
        .where(F.col("srank") <= shortlist)
        .select("query_id", "vec_id")
    )
    rescored = (
        short.join(c, "vec_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("score", F.round(cosine(F.col("v"), F.col("qv")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "score")
    )


def embedding_outliers(
    embeddings: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bottom_k: int = 3,
    quant_scale: float = 1.0e5,
) -> DataFrame:
    """Per-group embedding outliers: the bottom-k vectors by cosine to
    their OWN group's centroid — the mislabeled-cluster / off-topic-shard
    audit an embedding-curated corpus runs per topic before sampling
    (SemDeDup's outlier companion: instead of dropping near-duplicates at
    the cluster core, it surfaces what barely belongs to the cluster).

    Centroid direction = the component-wise SUM of the group's quantized
    vectors (same direction as the mean, skips the division): components
    quantize JVM-side to round(x·quant_scale) BIGINT, so the centroid,
    both norms, and every dot product are exact integer arithmetic — the
    knn_graph determinism recipe — and the rounded score hash-matches any
    engine. Returns (group, rank, id, score) with score = round(cos, 4),
    rank ascending (worst first), ties by id.

    Scale: the centroid build is ONE map-side-combinable (group, dim)
    aggregate (shuffled rows <= maps · groups · dim); the scoring pass is
    a broadcast join of the O(groups) centroid table onto a stateless
    scan (zip_with/aggregate folds are row-local); the bottom-k is a
    rank<=k filter Spark rewrites to WindowGroupLimit (partial limits
    map-side). Overflow bound (bigint): group_size · dim · (quant_scale ·
    max|x|)² < 2^63 — ~7k vectors/group at the default scale for unit-
    normalized 64-dim inputs; drop quant_scale one decade per 100x group
    size (at 1e3 the bound is ~70M vectors/group, precision ~1e-3).
    """
    if bottom_k < 1:
        raise ValueError(f"bottom_k must be >= 1, got {bottom_k}")
    e = embeddings.where(_valid_vec(vec_col)).select(
        F.col(id_col).alias("vec_id"),
        F.col(group_col).alias("grp"),
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda x: F.round(x * quant_scale).cast("bigint"),
        ).alias("v"),
    )
    comp = e.select("grp", F.posexplode("v").alias("i", "q"))
    cent = comp.groupBy("grp", "i").agg(F.sum("q").alias("s"))
    cent_arr = cent.groupBy("grp").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "s"))), lambda t: t["s"]
        ).alias("cv")
    )
    zero = F.lit(0).cast("bigint")
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"), lambda a, b: a * b), zero,
        lambda acc, x: acc + x,
    )
    nv = F.aggregate(F.col("v"), zero, lambda acc, x: acc + x * x)
    ns = F.aggregate(F.col("cv"), zero, lambda acc, x: acc + x * x)
    scored = (
        e.join(F.broadcast(cent_arr), "grp")
        .select(
            "vec_id", "grp", dot.alias("__dot"), nv.alias("__nv"), ns.alias("__ns")
        )
        .where((F.col("__nv") > 0) & (F.col("__ns") > 0))
        .select(
            "vec_id",
            "grp",
            F.round(
                F.col("__dot")
                / (F.sqrt(F.col("__nv").cast("double")) * F.sqrt(F.col("__ns").cast("double"))),
                4,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("grp").orderBy(F.asc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= bottom_k)
        .select(F.col("grp").alias(group_col), "rank", "vec_id", "score")
    )


def embedding_drift(
    emb_a: DataFrame,
    emb_b: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    quant_scale: float = 1.0e5,
) -> DataFrame:
    """Cross-snapshot per-group embedding drift: the cosine between the
    two snapshots' centroid DIRECTIONS plus the count shift — the
    embedding-space counterpart of token_drift (a topic cluster whose
    centroid swings between crawls changed its CONTENT, not just its
    size; a stable centroid with a count collapse is a coverage story).

    Centroid direction = the component-wise integer SUM of the group's
    round(x·quant_scale)-quantized vectors (the embedding_outliers
    recipe — same direction as the mean, skips the division), so both
    norms and the cross dot product are exact integer arithmetic and the
    rounded cosine hash-matches any engine. Returns (group, n_a, n_b,
    centroid_cos, drift = round(1 − centroid_cos, 4)) for groups with a
    nonzero centroid in BOTH snapshots — a group missing from one side
    is a count/coverage finding (token_drift's job), not a direction.

    Scale: one map-side-combinable (group, dim) sum per snapshot
    (shuffled rows ≤ maps·groups·dim), an O(groups·dim) equi-join
    between the two sum tables, and an O(groups) count join — nothing
    corpus-sized shuffles twice. Overflow bound (bigint): per (group,
    dim), Σ|q| < ~3·10⁹ at the default scale for unit-normalized inputs
    (the embedding_outliers bound), and the cross product Σ sa·sb over
    dims must stay < 2^63 — drop quant_scale one decade per 100× group
    size, same as the outliers knob.
    """

    def prep(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        e = df.where(_valid_vec(vec_col)).select(
            F.col(group_col).alias("grp"),
            F.transform(
                F.col(vec_col).cast("array<double>"),
                lambda x: F.round(x * quant_scale).cast("bigint"),
            ).alias("v"),
        )
        sums = e.select("grp", F.posexplode("v").alias("i", "q")).groupBy(
            "grp", "i"
        ).agg(F.sum("q").alias("s"))
        counts = e.groupBy("grp").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        return sums, counts

    sa, ca = prep(emb_a)
    sb, cb = prep(emb_b)
    joined = sa.withColumnRenamed("s", "sa").join(
        sb.withColumnRenamed("s", "sb"), ["grp", "i"]
    )
    agg = joined.groupBy("grp").agg(
        F.sum(F.col("sa") * F.col("sb")).alias("dot"),
        F.sum(F.col("sa") * F.col("sa")).alias("na"),
        F.sum(F.col("sb") * F.col("sb")).alias("nb"),
    )
    cos = F.round(
        F.col("dot")
        / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
        4,
    )
    return (
        agg.where((F.col("na") > 0) & (F.col("nb") > 0))
        .join(ca.withColumnRenamed("n", "n_a"), "grp")
        .join(cb.withColumnRenamed("n", "n_b"), "grp")
        .select(
            F.col("grp").alias(group_col),
            "n_a",
            "n_b",
            cos.alias("centroid_cos"),
            F.round(F.lit(1.0) - cos, 4).alias("drift"),
        )
    )


def lsh_candidate_fraction(
    embeddings: DataFrame,
    n_planes: int = 24,
    rows_per_band: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One-row audit of sign-LSH candidate volume at a band config —
    the gate a pipeline runs BEFORE committing to knn_graph_lsh.

    Sign-LSH candidate volume follows the 1 − θ/π collision geometry, so
    on weakly-clustered embeddings the banding admits most pairs (measured
    on this repo's near-uniform synthetic vectors: ~65% of ALL pairs at
    the default 8 bands × 3 bits) and the "approximate" graph quietly
    costs all-pairs. That failure mode was previously a docstring note
    (knn_graph_lsh) — this makes it a NUMBER a pipeline can branch on:
    candidate fraction above a threshold → take the IVF twin
    (knn_graph_ivf), whose volume is governed by list sizes regardless
    of geometry.

    Returns ONE row:
      n_vectors    — vectors banded,
      total_pairs  — n·(n−1)/2,
      cand_pairs   — distinct unordered pairs sharing ≥1 band bucket
                     (exactly knn_graph_lsh's candidate set),
      cand_fraction— cand_pairs / total_pairs, round 6,
      join_rows    — Σ_buckets f·(f−1)/2, the unordered band-join output
                     volume (counts a pair once per shared band): the
                     SHUFFLE cost of candidate generation,
      max_bucket   — largest bucket (the quadratic hot spot bucket_cap
                     would drop).

    Cost: the band shuffle + the candidate distinct — NO rescore pass, so
    the audit is strictly cheaper than the kNN it gates. At 100 TB run it
    on a uniform sample (`embeddings.sample(...)`): cand_fraction is a
    ratio, so it transfers; join_rows/max_bucket scale with the sample.
    All three aggregates reduce to single rows before the final
    broadcast-scalar cross joins. The pair inequality uses `<` on the id
    (type-agnostic — string ids work, per the module contract).
    """
    bands = lsh_band_table(
        embeddings, "vec_id", n_planes, rows_per_band, dim, id_col, vec_col
    )
    # lazy persist: the bucket posting table feeds THREE plan branches
    # (n_vectors, volume aggregate, pair explode) and AQE reuses none of their
    # exchanges — the cache computes it once per execution (no build-time
    # action; BlockManager block locks dedupe concurrent branch computation)
    from pyspark.storagelevel import StorageLevel

    return _pair_volume_summary(
        bands, ["band", "band_sig"], storage_level=StorageLevel.MEMORY_AND_DISK
    )


def _pair_volume_summary(
    assign: DataFrame, keys: list, storage_level=None
) -> DataFrame:
    """Shared audit core of the candidate-fraction pair (LSH bands / IVF
    lists): given a (vec_id, *keys) assignment table, report the one-row
    (n_vectors, total_pairs, cand_pairs, cand_fraction, join_rows,
    max_bucket) summary — distinct pairs sharing a key, the key-join's
    raw output volume Σ f·(f−1)/2, and the largest bucket. The pair
    inequality is `<` on the id (ids must be orderable).

    NULL keys never form a bucket, and NULL ids count toward nothing.
    Buckets are `collect_list`, not pairs.postings' set: `f` and join_rows
    count assignment ROWS, so a duplicated assignment counts twice, while
    duplicate pairs collapse in cand_pairs' distinct.

    Degenerate inputs yield a well-defined row: an empty assignment table
    reports all counts 0, and cand_fraction is 0.0 whenever
    total_pairs = 0 (n_vectors ≤ 1).

    `storage_level` lazily persists the bucket table across its three
    consuming branches (callers whose assignment build is expensive — the
    LSH band projection — pass MEMORY_AND_DISK; None recomputes)."""
    post = (
        assign.where(reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in keys]))
        .groupBy(*keys)
        .agg(F.collect_list("vec_id").alias("ids"))
    )
    if storage_level is not None:
        post = post.persist(storage_level)
    nvec = (
        post.select(F.explode("ids").alias("v"))
        .agg(F.count_distinct(F.col("v")).cast("bigint").alias("n_vectors"))
    )
    vol = post.agg(
        F.coalesce(
            F.sum(F.expr("cast(size(ids) as bigint) * (size(ids) - 1) div 2")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("join_rows"),
        F.coalesce(F.max(F.size("ids")), F.lit(0))
        .cast("bigint")
        .alias("max_bucket"),
    )
    cand = (
        key_pairs(post)
        .select("a_id", "b_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("cand_pairs"))
    )
    return (
        nvec.crossJoin(F.broadcast(vol))
        .crossJoin(F.broadcast(cand))
        .select(
            "n_vectors",
            F.expr("n_vectors * (n_vectors - 1) div 2")
            .cast("bigint")
            .alias("total_pairs"),
            "cand_pairs",
            "join_rows",
            "max_bucket",
        )
        .select(
            "n_vectors",
            "total_pairs",
            "cand_pairs",
            F.when(
                F.col("total_pairs") > 0,
                F.round(
                    F.col("cand_pairs").cast("double")
                    / F.col("total_pairs").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("cand_fraction"),
            "join_rows",
            "max_bucket",
        )
    )


def ivf_candidate_fraction(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF half of the twin-choice audit (see lsh_candidate_fraction):
    the pair volume knn_graph_ivf would score at this (n_centroids,
    n_assign) config, from the list assignment's own counts — NO scoring
    pass. Unlike sign-LSH, IVF volume is governed by LIST SIZES
    regardless of embedding geometry: n_assign lists per vector bound
    join_rows by Σ C(list,2) with E[list] ≈ n·n_assign/n_centroids, so
    raising n_centroids provably shrinks the quadratic term — there is
    no tighten-the-bands recall collapse. Run both audits on a sample
    and take the twin with the smaller admitted fraction at the recall
    you need. Same one-row schema as lsh_candidate_fraction."""
    c = embeddings.where(_valid_vec(vec_col)).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    cent = (
        c.orderBy("vec_id")
        .limit(n_centroids)
        .agg(
            F.collect_list(
                F.struct(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
            ).alias("__cents")
        )
    )
    lists = c.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        F.explode(
            F.transform(
                F.slice(_ranked_lists(F.col("v")), 1, n_assign),
                lambda s: s["cid"],
            )
        ).alias("list_id"),
    )
    return _pair_volume_summary(lists, ["list_id"])
