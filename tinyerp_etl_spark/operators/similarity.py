"""Similarity search over embedding columns (array<float>).

Two paths, as a real 100 TB pipeline would have:

- **brute-force top-k** — the exact baseline: score every vector
  against the query. Embarrassingly parallel scan + TakeOrdered(k);
  no shuffle of the vectors themselves. Right answer, O(N) per query.
- **LSH-bucketed top-k** — the scale path: vectors hash to a sign
  bucket (hyperplane LSH over the leading dimensions); only the
  query's bucket is scanned. Bucketing is a map-side projection, and
  the bucket column is exactly what you'd partition/Z-order by on
  disk so partition pruning kills the IO at scale.

Determinism: scores use quantized integer arithmetic — each float is
rounded to 1e-6 ticks, dot products accumulate exact integers, and the
final cosine is one deterministic double expression. Results are
bit-identical across engines and partition orders (see
functions/exact.py for the same policy on money).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from tinyerp_etl_spark.functions.localdf import local_df

QUANT = 1_000_000  # 1e-6 quantization ticks
SIGN_BUCKET_DIMS = 8  # leading dims used for the LSH sign bucket


def _q(col: Column) -> Column:
    """array<float> → array<long> quantized ticks.

    The float is widened to double BEFORE scaling: Spark would keep
    float*int as float32 while DuckDB promotes to double — widening
    explicitly keeps both engines on the identical double path.
    """
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT).cast("long"))


def quantized_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors (as long)."""
    return F.aggregate(
        F.zip_with(_q(a), _q(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_norm2(a: Column) -> Column:
    """Exact integer squared norm of a quantized vector."""
    return F.aggregate(
        F.transform(_q(a), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Quantized cosine similarity as a deterministic double."""
    return (
        quantized_dot(a, b)
        / F.sqrt(quantized_norm2(a).cast("double") * quantized_norm2(b).cast("double"))
    ).cast("double")


def quantize_int8(col: Column) -> Column:
    """Symmetric int8 scalar quantization: struct(scale, q array).

    The storage-scale path for an embedding column: 4-byte floats
    become 1-byte codes plus one scale per vector (scale = max|x|/127;
    code = floor(x/scale + 0.5)). Rounding is spelled floor(+0.5)
    rather than round() so both engines share one tie-break rule, and
    the float is widened to double before any arithmetic (same reason
    as ``_q``). max|code| <= 127 by construction.
    """
    maxabs = F.array_max(F.transform(col, lambda x: F.abs(x.cast("double"))))
    scale = F.greatest(maxabs, F.lit(1e-12)) / F.lit(127.0)
    q = F.transform(
        col, lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("long")
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def _ticks_sign_bucket(ticks: Column, dims: int = SIGN_BUCKET_DIMS) -> Column:
    """``sign_bucket`` over an ALREADY-QUANTIZED tick array — callers
    that carry ticks (the hoisted pair kernels) read them directly
    instead of re-quantizing. Bit-identical: sign(_q(a)[j]) ==
    sign(ticks[j]) because _q preserves sign per element."""
    bucket = F.lit(0).cast("long")
    for j in range(dims):
        bucket = bucket + F.when(
            F.element_at(ticks, j + 1) > 0, F.lit(2**j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return bucket


def sign_bucket(a: Column, dims: int = SIGN_BUCKET_DIMS) -> Column:
    """Hyperplane-LSH bucket: sign bits of the leading ``dims`` dims.

    Axis-aligned hyperplanes keep the expression portable (and the
    bucket is a pure projection — computable at write time and usable
    as a partition key). The quantized array is BOUND once per row
    (dedup._bind_once): referencing ``_q(a)`` from each of the
    ``dims`` element_at reads would re-run the interpreted quantize
    dims times — no CSE through higher-order expressions.
    """
    from tinyerp_etl_spark.operators.dedup import _bind_once

    return _bind_once(_q(a), lambda q: _ticks_sign_bucket(q, dims))


def brute_force_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k vs the vector with ``query_vec_id``.

    The single query row is crossJoin-broadcast to every partition —
    one scan, no vector shuffle, TakeOrdered(k) on top.
    """
    query = embeddings.filter(F.col(id_col) == query_vec_id).select(
        _q(F.col(vec_col)).alias("__qt"),
    ).withColumn("__qn2", _ticks_norm2(F.col("__qt")))
    # query ticks + norm ride in the broadcast row, row ticks are a
    # pre-join projection — embedded in the score, the interpreted
    # quantize would re-run per scanned row for dot AND norm
    base = embeddings.select(
        F.col(id_col), _q(F.col(vec_col)).alias("__vt")
    )
    score = (
        _ticks_dot(F.col("__vt"), F.col("__qt"))
        / F.sqrt(
            _ticks_norm2(F.col("__vt")).cast("double")
            * F.col("__qn2").cast("double")
        )
    ).cast("double")
    return (
        base.crossJoin(F.broadcast(query))
        .filter(F.col(id_col) != query_vec_id)
        .select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def lsh_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: only the query's sign-bucket is scored.

    At 100 TB the bucket predicate prunes partitions before any read;
    recall is traded for a ~2^dims scan reduction.
    """
    with_bucket = embeddings.select(
        F.col(id_col),
        _q(F.col(vec_col)).alias("__vt"),
    ).select(
        F.col(id_col),
        F.col("__vt"),
        _ticks_sign_bucket(F.col("__vt")).alias("__bucket"),
    )
    query = with_bucket.filter(F.col(id_col) == query_vec_id).select(
        F.col("__vt").alias("__qt"),
        F.col("__bucket").alias("__qbucket"),
        _ticks_norm2(F.col("__vt")).alias("__qn2"),
    )
    score = (
        _ticks_dot(F.col("__vt"), F.col("__qt"))
        / F.sqrt(
            _ticks_norm2(F.col("__vt")).cast("double")
            * F.col("__qn2").cast("double")
        )
    ).cast("double")
    return (
        with_bucket.join(
            F.broadcast(query), F.col("__bucket") == F.col("__qbucket")
        )
        .filter(F.col(id_col) != query_vec_id)
        .select(F.col(id_col), score.alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---- IVF (inverted-file) ANN over TRAINED centroids ----------------------
# Centroids are trained by a deterministic fixed-iteration integer-space
# Lloyd's (k-means): seeds are the k corpus vectors with the smallest
# md5-prefix of their id (a deterministic pseudo-random sample both
# engines can compute literally), assignment is the exact quantized
# cosine with ties to the lower centroid_id, and the update step is the
# element-wise integer mean of member ticks (exact int64 sums; one IEEE
# double division + floor(+0.5) per dimension) — so training is
# bit-identical at any parallelism and the DuckDB oracle is an unrolled
# SQL of the same iterations. In a real pipeline this runs offline over
# a seeded sample and the centroid table is versioned with the index.
KMEANS_K = 8
KMEANS_ITERS = 3
IVF_NPROBE = 2
#: Largest training sample train_kmeans reads when centroids are
#: trained from the input corpus: the deterministic md5-prefix sample
#: (smallest seed-hash rows) bounds training to ONE corpus pass (the
#: TakeOrdered sample scan) plus iterations over a materialized
#: ≤4096-row frame — centroid quality needs a representative sample,
#: not the corpus, and an unbounded per-iteration corpus scan is the
#: piece of in-query training that cannot survive 100 TB.
TRAIN_SAMPLE_CAP = 4096


def _ticks_dot(a: Column, b: Column) -> Column:
    """Exact integer dot of two already-quantized tick arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _ticks_norm2(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _seed_hash(col: Column) -> Column:
    """Cross-engine deterministic pseudo-random key: first 8 md5 hex
    digits of the DECIMAL string of the id, as a long. Identical in
    DuckDB as CAST(concat('0x', substr(md5(CAST(x AS VARCHAR)),1,8))
    AS BIGINT)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")


def _assign_ticks(base: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Nearest-centroid assignment in tick space.

    ``base`` carries (..., __vt ticks, __n2); centroids ride in as a
    broadcast literal frame (k rows — control plane). The keep-best is
    a max_by aggregation on (score, -centroid_id) — partial-aggregable
    map-side, so the shuffle carries one row per vector and nothing is
    sorted (a window formulation would shuffle AND sort the full
    table). Adds ``list_id``; drops the internal score.
    """
    spark = base.sparkSession
    cdf = local_df(
        spark,
        [(int(c), [int(x) for x in t]) for c, t in cents],
        "centroid_id int, __ct array<long>",
    ).withColumn("__cn2", _ticks_norm2(F.col("__ct")))
    # zero norms fail LOUDLY (and identically to probe_lists /
    # ivf_assign_expr): a silent NaN score would let max_by pick an
    # arbitrary list for a zero vector on one path and a different
    # one on another
    scored = base.crossJoin(F.broadcast(cdf)).withColumn(
        "__cscore",
        F.when(
            (F.col("__n2") > 0) & (F.col("__cn2") > 0),
            _ticks_dot(F.col("__vt"), F.col("__ct"))
            / F.sqrt(F.col("__n2").cast("double") * F.col("__cn2").cast("double")),
        )
        .otherwise(
            F.raise_error(
                F.lit("ivf assignment: zero-norm vector or centroid has no cosine direction")
            ).cast("double")
        )
        .cast("double"),
    )
    carry = [c for c in base.columns if c not in ("__vt", "__n2")]
    # max_by tie-break: higher score wins, then lower centroid_id —
    # encoded as lexicographic max over (score, -centroid_id).
    # any_value is deterministic here: carried columns are functionally
    # dependent on the group key.
    return scored.groupBy(carry[0]).agg(
        *[F.any_value(c).alias(c) for c in carry[1:]],
        F.any_value("__vt").alias("__vt"),
        F.max_by(
            "centroid_id",
            F.struct(F.col("__cscore"), (-F.col("centroid_id")).alias("__nc")),
        ).alias("list_id"),
    )


def quantize_vector(vec) -> list[int]:
    """Driver-side twin of ``_q``: half-up rounding of double(x)*QUANT.

    Python's round() is half-even and numpy's np.round too — Spark's
    round() is half-away-from-zero, so the control-plane quantization
    must spell floor(+0.5)/ceil(-0.5) explicitly. This is THE one
    definition every driver-side consumer (ivf_topk's query/centroid
    prep, the partitioned-scan gate) must share — a second copy that
    drifted on the rounding rule would silently flip assignment ties.
    """
    import math

    out = []
    for x in vec:
        s = float(x) * QUANT
        out.append(int(math.floor(s + 0.5)) if s >= 0 else int(math.ceil(s - 0.5)))
    return out


def probe_lists(
    centroids: list[tuple[int, list[int]]], query_ticks: list[int], nprobe: int
) -> list[int]:
    """The IVF probe-selection control plane, shared by every caller:
    rank centroids by exact-integer-dot cosine against the query
    ticks, ties to the LOWER centroid_id, take ``nprobe``. One
    definition so ivf_topk and the partitioned-layout scan can never
    disagree on which lists a query touches (the probe set is part of
    the oracle-checked contract)."""
    import math

    qn2 = sum(t * t for t in query_ticks)
    if qn2 == 0:
        # fail loudly and identically to the columnar twins
        # (_assign_ticks / ivf_assign_expr raise on zero norms too):
        # a silent NaN/NULL score would mis-rank the probe set
        raise ValueError("probe_lists: zero query vector has no cosine direction")

    def cos(ticks: list[int]) -> float:
        dot = sum(a * b for a, b in zip(ticks, query_ticks))
        n2 = sum(t * t for t in ticks)
        if n2 == 0:
            raise ValueError("probe_lists: zero-tick centroid cannot be ranked")
        return dot / math.sqrt(float(n2) * float(qn2))

    ranked = sorted(centroids, key=lambda c: (-cos(c[1]), c[0]))
    return [cid for cid, _ in ranked[:nprobe]]


def train_kmeans(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int | None = TRAIN_SAMPLE_CAP,
) -> list[tuple[int, list[int]]]:
    """Deterministic integer-space Lloyd's; returns [(centroid_id, ticks)].

    Training reads a deterministic sample, not the corpus: the
    ``sample_cap`` rows with the smallest (md5-prefix hash, id) — one
    TakeOrdered corpus pass, materialized once (functions/
    materialize.py seam), with every Lloyd's iteration then running
    over the tiny sample frame. Corpora at or under the cap train on
    every row, so the cap changes nothing at gate scales while
    removing the per-iteration corpus scan that made in-query training
    a 100 TB anti-pattern. ``sample_cap=None`` restores full-corpus
    training (per-iteration corpus scans — offline use only).

    Each iteration is one distributed assignment pass (broadcast
    centroids, map-side partial max_by) plus one distributed update
    (posexplode to (list, dim, tick), partial-agg integer sums) — the
    only driver-side data is the k centroid rows per iteration
    (control plane, same class as the watermark reads). Empty clusters
    keep their previous centroid. centroid_id is the seed's rank in
    (md5-prefix, id) order, 1-based, so assignment ties break toward
    the seed that hashes first — stable across engines and rebuilds.
    Seeds are the first k rows of the SAME (hash, id) order the sample
    uses, so seeding is identical with or without the cap.

    The update mean floor(sum/n + 0.5) divides two exact int64s in
    IEEE double — deterministic at any partitioning; at corpus sizes
    where a per-(list,dim) tick sum could exceed 2^53 the sums should
    be widened to decimal(38,0) (functions/exact.py discipline), which
    changes nothing at the gate scales.
    """
    from tinyerp_etl_spark.functions.materialize import materialize

    base = embeddings.select(
        F.col(id_col),
        _q(F.col(vec_col)).alias("__vt"),
        _seed_hash(F.col(id_col)).alias("__h"),
    ).withColumn("__n2", _ticks_norm2(F.col("__vt")))
    if sample_cap is not None:
        if k > sample_cap:
            raise ValueError(f"k={k} exceeds sample_cap={sample_cap}")
        base = materialize(base.orderBy("__h", id_col).limit(sample_cap))
    seeds = base.orderBy("__h", id_col).limit(k).collect()
    cents = [(i + 1, list(r["__vt"])) for i, r in enumerate(seeds)]
    for _ in range(iters):
        assigned = _assign_ticks(base.select(id_col, "__vt", "__n2"), cents)
        new_rows = (
            assigned.select("list_id", F.posexplode("__vt").alias("__dim", "__tick"))
            .groupBy("list_id", "__dim")
            .agg(F.sum("__tick").alias("__s"), F.count(F.lit(1)).alias("__n"))
            .select(
                "list_id",
                "__dim",
                F.floor(F.col("__s").cast("double") / F.col("__n") + F.lit(0.5))
                .cast("long")
                .alias("__t"),
            )
            .groupBy("list_id")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("__dim", "__t"))),
                    lambda s: s["__t"],
                ).alias("__ct")
            )
            .collect()
        )
        updated = {r["list_id"]: list(r["__ct"]) for r in new_rows}
        cents = [(cid, updated.get(cid, t)) for cid, t in cents]
    return cents


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int | None = TRAIN_SAMPLE_CAP,
) -> DataFrame:
    """The trained centroid table + final membership counts.

    (centroid_id, centroid_ticks array<long>, n_members) — the
    tiny, broadcastable index artifact a real pipeline would persist
    and version alongside the corpus (operators/ivf_index.py does).
    Training reads the bounded sample; n_members counts the FULL
    corpus assignment (one broadcast pass).
    """
    cents = train_kmeans(embeddings, k, iters, id_col, vec_col, sample_cap)
    spark = embeddings.sparkSession
    base = embeddings.select(
        F.col(id_col), _q(F.col(vec_col)).alias("__vt")
    ).withColumn("__n2", _ticks_norm2(F.col("__vt")))
    counts = _assign_ticks(base, cents).groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    cdf = local_df(
        spark,
        [(int(c), [int(x) for x in t]) for c, t in cents],
        "centroid_id int, centroid_ticks array<long>",
    )
    return cdf.join(
        counts, cdf["centroid_id"] == counts["list_id"], "left"
    ).select(
        "centroid_id",
        "centroid_ticks",
        F.coalesce(F.col("n_members"), F.lit(0).cast("long")).alias("n_members"),
    )


def ivf_assign(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """Assign every vector to its nearest trained centroid's list.

    ``centroids`` accepts a pre-trained [(centroid_id, ticks)] (the
    persisted index artifact); when None the index is trained from the
    corpus itself (train_kmeans). Assignment is one broadcast pass; at
    100 TB this runs once at ingest and ``list_id`` becomes the
    table's partition column — query time then touches only ``nprobe``
    partitions (partition pruning).
    """
    if centroids is None:
        centroids = train_kmeans(embeddings, id_col=id_col, vec_col=vec_col)
    base = embeddings.select(
        F.col(id_col), F.col(vec_col), _q(F.col(vec_col)).alias("__vt")
    ).withColumn("__n2", _ticks_norm2(F.col("__vt")))
    return _assign_ticks(base, centroids).select(id_col, vec_col, "list_id")


def ivf_assign_expr(
    vec_col: str, centroids: list[tuple[int, list[int]]]
) -> Column:
    """Per-ROW nearest-centroid list_id as a narrow column expression
    over the named vector column.

    ``_assign_ticks`` keeps the best centroid with a max_by
    AGGREGATION over a broadcast join — the right shape for a batch
    corpus pass, but an aggregation nonetheless, which a streaming
    append-mode projection cannot run. The index is k driver-side rows,
    so the same argmax folds into ONE expression: an array of
    (score, -centroid_id, centroid_id) structs — one per centroid,
    centroid ticks inlined as literals — reduced with array_max, whose
    lexicographic struct ordering IS max_by's (score, -id) tie rule:
    higher score wins, then the LOWER centroid_id. Same tick
    arithmetic (_q/_ticks_dot/_ticks_norm2 shapes, integer norms
    widened to double before one division), so assignments are
    bit-identical to _assign_ticks — pinned by test and by the
    shared-oracle gate query.

    No join, no shuffle, no state: usable in a streaming micro-batch
    projection (run_stream_to_ivf_corpus), a generated column, or any
    select — the assignment-at-ingest primitive at its narrowest.
    Authored as ONE SQL string parsed JVM-side (the row ticks and
    norm² lambda-bound so the k candidates share one evaluation):
    composing it from per-tick ``F.lit`` Columns cost ~3 s of DRIVER
    py4j time per build at k=8·d=64 — the py4j-chatter tax, measured
    via the PQ twin (pq_index._pq_sub_expr).
    """
    body = f"array_max({_ivf_cands_sql(centroids, 'ivf_assign_expr')}).id"
    return F.expr(_ivf_row_wrap(vec_col, body)).alias("list_id")


def _ivf_cands_sql(
    centroids: list[tuple[int, list[int]]], caller: str
) -> str:
    """The candidate-struct array SQL shared by ``ivf_assign_expr``
    (argmax → one list) and ``ivf_probe_expr`` (sort-desc → nprobe
    lists): one (s, nid, id) struct per centroid with the exact tick
    cosine, lambda-bound row ticks (``vt``) and norm² (``n2``), zero
    norms raising loudly. One definition so the two expressions can
    never rank centroids differently."""
    cents = sorted(((int(c), [int(x) for x in t]) for c, t in centroids))
    # zero norms fail LOUDLY, matching _assign_ticks / probe_lists: a
    # zero centroid is a broken index artifact (raise at build time);
    # a zero row vector raises per-row instead of NaN-scoring
    cands = []
    for cid, ticks in cents:
        cn2 = sum(t * t for t in ticks)
        if cn2 == 0:
            raise ValueError(
                f"{caller}: centroid {cid} has zero ticks — broken index"
            )
        ct = "array(" + ", ".join(f"{t}L" for t in ticks) + ")"
        dot = (
            f"aggregate(zip_with(vt, {ct}, (x, y) -> x * y), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        score = (
            "CAST(CASE WHEN n2 > CAST(0 AS DOUBLE) "
            f"THEN CAST({dot} AS DOUBLE) / sqrt(n2 * CAST({cn2} AS DOUBLE)) "
            "ELSE CAST(raise_error('ivf assignment: zero-norm vector "
            "has no cosine direction') AS DOUBLE) END AS DOUBLE)"
        )
        cands.append(
            f"named_struct('s', {score}, 'nid', CAST({-cid} AS INT), "
            f"'id', CAST({cid} AS INT))"
        )
    return f"array({', '.join(cands)})"


def _ivf_row_wrap(vec_col: str, body: str, pre_quantized: bool = False) -> str:
    """Bind the row's quantized ticks as ``vt`` and their norm² as
    ``n2`` around ``body`` — the shared one-evaluation HOF scaffold
    (Catalyst does not CSE through higher-order functions, so the
    candidates must share one evaluation of each via lambda binding).
    ``pre_quantized`` binds the named column as the ticks directly
    (array<long> already through ``_q``) instead of quantizing — for
    callers that also need the ticks elsewhere in the same projection
    and would otherwise pay the round(x·QUANT) transform twice."""
    if not isinstance(vec_col, str):
        # the 2024-era signature took a Column; interpolating one into
        # SQL fails with an obscure JVM parse error far from the call
        raise TypeError(
            "ivf_assign_expr/ivf_probe_expr take the vector column "
            f"NAME (str), not {type(vec_col).__name__} — pass "
            '"embedding", not F.col("embedding")'
        )
    vt0 = (
        f"`{vec_col}`"
        if pre_quantized
        else (
            f"transform(`{vec_col}`, "
            f"x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
        )
    )
    n2 = (
        "CAST(aggregate(transform(vt, x -> x * x), CAST(0 AS BIGINT), "
        "(acc, x) -> acc + x) AS DOUBLE)"
    )
    inner = f"element_at(transform(array({n2}), n2 -> {body}), 1)"
    return f"element_at(transform(array({vt0}), vt -> {inner}), 1)"


def ivf_probe_expr(
    vec_col: str,
    centroids: list[tuple[int, list[int]]],
    nprobe: int,
    pre_quantized: bool = False,
) -> Column:
    """Per-ROW nprobe probe set as an array<int> column expression —
    the distributed face of ``probe_lists`` (which ranks ONE query
    vector driver-side): same exact tick cosine, same (score DESC,
    centroid_id ASC) order, realized as reverse(array_sort) over the
    shared candidate structs — ascending struct order is (s, nid), so
    the reverse is (s DESC, nid DESC) = (s DESC, id ASC), bit-identical
    to probe_lists' sort key. Lets a whole BATCH of query vectors
    compute its probe lists in one narrow projection (the
    batch-vs-store embedding near-dup join key), no driver loop, no
    shuffle. Zero-norm rows raise like every assignment path."""
    if nprobe < 1:
        raise ValueError(f"ivf_probe_expr: nprobe must be >= 1, got {nprobe}")
    cands = _ivf_cands_sql(centroids, "ivf_probe_expr")
    body = (
        f"transform(slice(reverse(array_sort({cands})), 1, {int(nprobe)}), "
        "c -> c.id)"
    )
    return F.expr(_ivf_row_wrap(vec_col, body, pre_quantized=pre_quantized))


def ivf_assign_narrow(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """ivf_assign via the narrow per-row expression — identical
    (id, vec, list_id) rows, zero shuffles (a pure projection), and
    legal on a STREAMING DataFrame. Prefer this form whenever the
    assignment feeds a write (ingest); the aggregate form remains for
    plans that already carry the crossJoin frame.
    """
    if centroids is None:
        centroids = train_kmeans(embeddings, id_col=id_col, vec_col=vec_col)
    return embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        ivf_assign_expr(vec_col, centroids),
    )


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: scan only the query's ``nprobe`` nearest lists.

    Control plane (driver-side): the trained centroid matrix (k rows —
    train_kmeans, or a pre-trained index passed as ``centroids``) and
    the query vector; pick the ``nprobe`` probe lists. Data plane: ONE
    Arrow-batched mapInPandas pass assigns each vector to its list
    (argmax over the exact quantized cosine, ties to the lower
    centroid_id) and scores the probe-list members against the query —
    numpy broadcast instead of interpreted per-element array
    expressions (~3× on the scan). The arithmetic replicates the
    column-expression path bit-for-bit: int64 quantized dots, norms
    widened to double before multiplying, one final division. Top-k is
    a TakeOrdered in Spark.

    With list-partitioned storage (ivf_assign as the write-time
    partition column) the same query is a pruned read of
    nprobe/n_lists of the corpus.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if centroids is None:
        centroids = train_kmeans(embeddings, id_col=id_col, vec_col=vec_col)
    # argmax breaks score ties to the FIRST row of the centroid matrix,
    # so the matrix must be in ascending centroid_id order for ties to
    # resolve to the lower id — the documented contract _assign_ticks
    # and the oracle implement. A caller-passed pre-trained index in
    # arbitrary order must not silently change assignments.
    centroids = sorted(centroids, key=lambda c: c[0])

    qrow = (
        embeddings.filter(F.col(id_col) == query_vec_id)
        .select(vec_col)
        .collect()
    )

    def _quant(m: np.ndarray) -> np.ndarray:
        # vectorized twin of quantize_vector (the shared driver-side
        # definition): widen float32 to float64 BEFORE scaling (like
        # the column expression); Spark round() is half-up while
        # np.round is half-even, so floor(x+0.5)/ceil(x-0.5).
        scaled = np.asarray(m, dtype=np.float64) * QUANT
        return np.where(
            scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
        ).astype(np.int64)

    qv = np.array(quantize_vector(qrow[0][vec_col]), dtype=np.int64)
    cmat = np.stack([np.asarray(t, dtype=np.int64) for _, t in centroids])
    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    cn2 = (cmat.astype(np.float64) ** 2).sum(axis=1)
    qn2 = float((qv.astype(np.float64) ** 2).sum())

    # probe lists via the ONE shared control-plane rule (ties → lower id)
    probe = set(probe_lists(centroids, qv.tolist(), nprobe))

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    def score_batches(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            mat = _quant(np.stack(pdf[vec_col].to_numpy()))
            n2 = (mat.astype(np.float64) ** 2).sum(axis=1)
            # assignment: argmax cosine vs centroids, first-max = lower id
            s = (mat @ cmat.T).astype(np.float64) / np.sqrt(
                np.outer(n2, cn2)
            )
            assign = cids[np.argmax(s, axis=1)]
            keep = np.isin(assign, list(probe)) & (ids != query_vec_id)
            scores = (mat[keep] @ qv).astype(np.float64) / np.sqrt(
                n2[keep] * qn2
            )
            yield pd.DataFrame({id_col: ids[keep], "score": scores})

    scored = embeddings.select(
        F.col(id_col).cast("long").alias(id_col), vec_col
    ).mapInPandas(score_batches, schema=out_schema)
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def label_centroids(
    embeddings: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mean vector per label — distributed element-wise aggregation.

    posexplode to (label, dim, tick) rows, sum exact integer ticks per
    (label, dim) — partial-agg combinable, so 100 TB of vectors reduce
    map-side to n_labels × n_dims partial sums — then reassemble the
    ordered array. The mean divides two exact integers, so centroids
    are bit-identical at any parallelism (the property that makes
    centroid-based indexes reproducible across rebuilds).
    """
    ticks = embeddings.select(
        F.col(label_col),
        F.posexplode(_q(F.col(vec_col))).alias("dim", "tick"),
    )
    per_dim = ticks.groupBy(label_col, "dim").agg(
        F.sum("tick").alias("tick_sum"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = (F.col("tick_sum") / (F.col("n") * F.lit(float(QUANT)))).cast("double")
    return (
        per_dim.select(label_col, "dim", mean.alias("mean_val"))
        .groupBy(label_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "mean_val"))),
                lambda s: s["mean_val"],
            ).alias("centroid"),
            F.max("dim").alias("__maxdim"),
        )
        .select(
            label_col,
            "centroid",
            (F.col("__maxdim") + 1).alias("n_dims"),
        )
    )


def neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = None,
    with_quarantine: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Embedding near-duplicate pairs within LSH buckets.

    Pairs are only formed inside a bucket (the LSH contract); the
    exact quantized cosine then filters to ``score >= threshold``.

    ``bucket_cap`` opts into the `_capped_bucket_pairs` doctrine from
    operators/dedup.py: on exactly the duplicate-heavy corpus this op
    targets, a sign bucket of k near-identical embeddings expands
    k·(k-1)/2 full-vector pairs through one shuffle partition — the
    executor-OOM shape. A window COUNT over ``__bucket`` tags sizes
    on the same shuffle the join needs anyway; over-cap buckets never
    reach the self-join, and with ``with_quarantine`` their vector
    ids come back as a second (disjoint) DataFrame to route through
    exact-hash dedup (near-identical vectors usually ARE identical)
    before re-running on what remains. The cap is OPT-IN (default
    None = every pair reported) so callers never lose recall without
    asking for it; pass a cap at data scale, and pass
    ``with_quarantine`` too unless dropping over-cap ids unreported
    is acceptable for the workload.
    """
    if bucket_cap is None:
        import warnings

        # the default changed from 256 to None (uncapped) in round 6:
        # recall-first for library callers, but a duplicate-flooded
        # sign bucket of k vectors still expands k·(k-1)/2 pairs
        # through one shuffle partition — the executor-OOM shape the
        # cap exists to prevent. Loud signal instead of a silent OOM
        # for data-scale callers that relied on the old default.
        warnings.warn(
            "neardup_pairs: bucket_cap=None emits every within-bucket "
            "pair (k·(k-1)/2 per bucket through one shuffle partition); "
            "pass a cap (e.g. 256) plus with_quarantine=True at data "
            "scale",
            stacklevel=2,
        )
    # ticks and norms are computed once per VECTOR before the join —
    # higher-order array expressions are interpreted (not codegen'd),
    # so re-quantizing both float arrays inside every pair's cosine
    # would multiply the dominant cost of bucket scoring by the
    # per-pair fan-out (the semantic_dedup lesson: 4.3× measured)
    b = (
        embeddings.select(
            F.col(id_col),
            _q(F.col(vec_col)).alias("__vt"),
        )
        # bucket + norm derive from the tick ATTRIBUTE in a second
        # projection — deriving them from vec_col alongside __vt would
        # quantize the row again (the /code-review catch on this pass)
        .select(
            F.col(id_col),
            F.col("__vt"),
            _ticks_sign_bucket(F.col("__vt")).alias("__bucket"),
            _ticks_norm2(F.col("__vt")).alias("__n2"),
        )
    )
    if bucket_cap is not None:
        wb = Window.partitionBy("__bucket")
        tagged = b.withColumn("__n", F.count(F.lit(1)).over(wb))
        ok = tagged.filter(F.col("__n") <= bucket_cap).drop("__n")
        quarantined = (
            tagged.filter(F.col("__n") > bucket_cap)
            .select(F.col(id_col))
            .distinct()
        )
    else:
        ok = b
        quarantined = b.select(F.col(id_col)).limit(0)
    left = ok.select(
        F.col(id_col).alias("id_a"),
        F.col("__vt").alias("__ta"),
        "__bucket",
        F.col("__n2").alias("__n2_a"),
    )
    right = ok.select(
        F.col(id_col).alias("id_b"),
        F.col("__vt").alias("__tb"),
        "__bucket",
        F.col("__n2").alias("__n2_b"),
    )
    score = (
        _ticks_dot(F.col("__ta"), F.col("__tb"))
        / F.sqrt(F.col("__n2_a").cast("double") * F.col("__n2_b").cast("double"))
    ).cast("double")
    # both sides carry full-width TICK arrays (long[dim] — 2× the
    # float vector's bytes, data-scale): never let the size-estimate
    # pick a broadcast build — same OOM class as the shingle-table
    # verify join (see dedup.lsh_neardup_verified)
    pairs = (
        left.hint("shuffle_hash").join(right.hint("shuffle_hash"), "__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", score.alias("score"))
        .filter(F.col("score") >= threshold)
    )
    if not with_quarantine:
        return pairs
    # the outputs are disjoint BY CONSTRUCTION here: a vector has
    # exactly one sign bucket, so a quarantined id (over-cap bucket)
    # can never appear in `ok` and hence never in `pairs` — no
    # anti-join needed. Contrast multimodal.video_neardup_pairs,
    # where an id spans MANY frame-hash buckets (some ok, some
    # over-cap) and the anti-join is load-bearing.
    return pairs, quarantined


def embedding_neardup_against_store(
    store_assigned: DataFrame,
    batch: DataFrame,
    centroids: list[tuple[int, list[int]]],
    nprobe: int = IVF_NPROBE,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook=None,
) -> DataFrame:
    """(store_vec, batch_vec, cos) — which ALREADY-INGESTED embeddings
    does this batch near-duplicate? The embedding-space twin of
    minhash_index.neardup_against_store, answered through the IVF
    assignment-at-ingest layout with the store never shuffling.

    ``store_assigned`` is the (id, vector, list_id) corpus the ingest
    paths write (ivf_assign / run_stream_to_ivf_corpus) — at scale the
    list_id-hive-partitioned table, so the join's list_id equality
    against the batch's broadcast probe rows reaches the scan as
    partition pruning (only the batch's probed directories open; the
    ivf_partitioned_scan tests pin that layout's PartitionFilters).
    The batch computes its nprobe probe lists in ONE narrow projection
    (``ivf_probe_expr`` — bit-identical to the driver-side
    ``probe_lists`` rule), explodes to (batch_vec, list_id) rows, and
    broadcasts; candidates are store rows in probed lists; the verify
    is the exact integer-tick cosine (same ``_q``/dot/norm² arithmetic
    as every ranking here). Candidate count is Σ_probed |list| × |batch
    probes of that list| — the bounded IVF blowup, never all-pairs.

    Near-dup recall is the IVF recall story: a true near-dup outside
    the batch vector's nprobe lists is missed, measured (not asserted)
    by ivf_recall_report / ivf_nprobe_recall_curve. Cross pairs only.

    ``codebook``: the persisted PQ codebook enables the SOUND
    compressed-domain PRESCREEN — each candidate pair is first scored
    with M LUT lookups over the store row's ingest-time PQ codes, and
    the exact O(dim) tick-dot runs only on pairs whose upper bound
    adc' + eps clears the threshold (pq_index.pq_prescreen_cols
    derives the bound; zero false drops by Cauchy-Schwarz, so the
    output is IDENTICAL with or without the codebook — differentially
    pinned by test). If ``store_assigned`` already carries the
    ``pq_codes``/``pq_eps`` ingest columns (pq_prescreen_cols at
    write time — the 100 TB layout, where the pruned scan reads M
    bytes of codes instead of the float vector for the ~85 % of
    candidates the bound kills) they are used as-is; otherwise they
    are derived inline in the store projection.
    """
    # quantize ONCE: the probe expression reuses the bound ticks
    # (pre_quantized) instead of re-running the round(x·QUANT)
    # transform inside its own scaffold
    # per-query quantities (__qn2, the ADC LUT) compute BEFORE the
    # nprobe explode so each runs once per query, not once per probe
    q_cols = [
        F.col(id_col).alias("batch_vec"),
        _q(F.col(vec_col)).alias("__qt"),
    ]
    q_side = batch.select(*q_cols)
    q_wide = [F.col("batch_vec"), F.col("__qt"),
              _ticks_norm2(F.col("__qt")).alias("__qn2")]
    if codebook is not None:
        from tinyerp_etl_spark.operators.pq_index import pq_query_lut_expr

        q_wide.append(pq_query_lut_expr("__qt", codebook).alias("__lut"))
    probes = q_side.select(*q_wide).select(
        "*",
        F.explode(
            ivf_probe_expr("__qt", centroids, nprobe, pre_quantized=True)
        ).alias("list_id"),
    )
    store = store_assigned
    if codebook is not None and "pq_codes" not in store.columns:
        from tinyerp_etl_spark.operators.pq_index import pq_prescreen_cols

        store = pq_prescreen_cols(store, codebook, vec_col=vec_col)
    elif codebook is not None:
        # ingest-time codes are trusted ONLY under the book that wrote
        # them: validate the stamped digest against the passed book
        # (the span store's k-mismatch refusal applied to PQ — codes
        # looked up in a different book's LUT would make the "sound"
        # bound silently drop true pairs). The probe is one
        # column-pruned scan of a constant RLE column whose row-group
        # stats prune EVERYTHING when the digest matches — near-free;
        # a layout carrying codes but no digest predates the stamp and
        # cannot be validated, so it is refused the same way.
        from tinyerp_etl_spark.operators.pq_index import codebook_digest

        if "pq_book" not in store.columns:
            raise ValueError(
                "store_assigned carries pq_codes but no pq_book digest "
                "column — the codes cannot be validated against the "
                "passed codebook; re-ingest with pq_prescreen_cols "
                "(which stamps the digest) or drop the prescreen "
                "columns to derive them inline"
            )
        digest = codebook_digest(codebook)
        bad = (
            store.filter(
                F.col("pq_book").isNull()
                | (F.col("pq_book") != F.lit(digest))
            )
            .select("pq_book")
            .first()
        )
        if bad is not None:
            raise ValueError(
                f"store_assigned's pq_codes were encoded under codebook "
                f"{bad['pq_book']!r} but the passed codebook digests to "
                f"{digest!r} — scoring them against this book's LUT "
                "would make the prescreen bound unsound (silent true-"
                "pair drops); re-encode the store or pass the book it "
                "was encoded with"
            )
    store_cols = [
        F.col(id_col).alias("store_vec"),
        _q(F.col(vec_col)).alias("__st"),
        F.col("list_id"),
    ]
    if codebook is not None:
        store_cols += [F.col("pq_codes"), F.col("pq_eps")]
    # __sn2 derives from the BOUND tick column in a second select —
    # _ticks_norm2(_q(vec)) inline would re-run the O(dim) quantize
    # transform per row (no CSE through HOFs; CollapseProject keeps
    # the multi-referenced alias un-inlined)
    cand = (
        store.select(*store_cols)
        .select("*", _ticks_norm2(F.col("__st")).alias("__sn2"))
        .join(F.broadcast(probes), "list_id")
    )
    den = F.sqrt(F.col("__sn2").cast("double") * F.col("__qn2").cast("double"))
    if codebook is not None:
        # the sound upper bound: adc' + eps ≥ exact cos, so this
        # filter cannot drop a true pair; the exact dot below runs
        # only on its survivors (predicates evaluate in order inside
        # the codegen stage). The 1e-9 slack covers the handful of
        # double roundings in the bound itself (den sqrt, eps sqrt):
        # a pair whose exact cosine sits within float error of the
        # threshold must not be droppable ONLY when the prescreen is
        # on — slack only ADMITS candidates, so soundness holds.
        adc_num = F.aggregate(
            F.zip_with(
                F.col("pq_codes"),
                F.col("__lut"),
                lambda c, l: F.element_at(l, c),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
        bound = adc_num / den + F.col("pq_eps")
        cand = cand.filter(bound >= F.lit(float(threshold) - 1e-9))
    num = _ticks_dot(F.col("__st"), F.col("__qt")).cast("double")
    cos = (num / den).cast("double")
    return (
        cand.select("store_vec", "batch_vec", cos.alias("cos"))
        .filter(F.col("cos") >= F.lit(float(threshold)))
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_cap: int = 1024,
    with_quarantine: bool = False,
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """SemDeDup-style semantic deduplication: cluster, then prune
    near-identical meanings within each cluster (Abbas et al. 2023,
    "SemDeDup" — the embedding-space dedup a web-scale training
    pipeline runs AFTER exact/MinHash dedup to remove paraphrases and
    re-renderings that share no n-grams).

    Contract (deterministic, oracle-checkable): assign every vector to
    its nearest trained centroid (ivf_assign — at 100 TB the assignment
    is the table's partition column, so this phase is a pruned scan,
    not a shuffle); within a cluster, DROP vector x iff some y with
    id(y) < id(x) sits at cosine >= threshold — LOWER-ID DOMINANCE.
    Note this is deliberately NOT strict sequential greedy: on a
    transitive chain a~b, b~c, a≁c (ids a<b<c) dominance drops both b
    and c (c has an in-threshold lower-id neighbor, even though that
    neighbor was itself dropped), where sequential greedy would
    re-keep c. Dominance needs ONE join instead of an iterative
    fixpoint, is order-deterministic, and errs toward dropping more
    near-boundary chain members — acceptable for training-data dedup,
    where a doc within ε of an already-near-duplicate doc is itself
    marginal. Pipelines that need transitive-component semantics
    (keep exactly one per connected ε-component) should feed
    ``neardup_pairs`` output through ``dedup.connected_components``
    instead.

    Scale shape: pairs form only within a cluster (never across), the
    within-cluster self-join carries the `_capped_bucket_pairs`
    doctrine — a window COUNT on the cluster key (same shuffle the
    join needs) tags sizes, over-cap clusters never reach the join,
    and their members come back as a quarantine DataFrame when
    ``with_quarantine`` is set (route through exact-hash dedup first;
    an over-cap semantic cluster is usually an exact-duplicate flood).
    Without the flag, over-cap cluster members are conservatively
    KEPT (kept=true) — dedup is an optimization, silently dropping
    data is not.

    Returns (vec_id, list_id, kept boolean) — one row per input
    vector without the flag; with ``with_quarantine`` the result
    covers input MINUS the quarantined ids (the two frames are
    disjoint and their union is the input), so quarantined vectors
    are never double-reported.
    """
    from tinyerp_etl_spark.functions.materialize import materialize

    # pin the assignment NARROW (optimization round 15, guide §5/§2.3,
    # reworking the round-14 full-width pin per VERDICT r14 #3): the
    # assignment feeds the cluster-size gate, the pair join, and the
    # final kept-flag join — unpinned, the per-vector nearest-centroid
    # pass re-ran once per consumer (r14 A/B: 4.04 → 3.74 s). The r14
    # pin materialized (id, VECTOR, list_id) through the aggregate-form
    # ivf_assign (×k crossjoin + payload exchange + a fat checkpoint
    # write) — count(1)-only actions paid all of that eagerly (driver
    # bench count 0.67 → 1.09 s). Now: the ZERO-SHUFFLE per-row
    # expression (ivf_assign_expr — bit-identical assignments, pinned
    # by test and the shared-oracle gate) projected to (id, list_id)
    # only, so the eager pin job is a map-only scan plus a tiny write.
    # Construction remains deliberately EAGER (the lazy form can
    # recompute per consumer — the lsh_neardup_verified doctrine);
    # r15 interleaved A/B at sf0.1: count 1.58 → 1.02 s, forced
    # 3.82 → 3.59 s, identical 2200-row output.
    if centroids is None:
        centroids = train_kmeans(embeddings, id_col=id_col, vec_col=vec_col)
    assigned = materialize(
        embeddings.select(F.col(id_col), ivf_assign_expr(vec_col, centroids))
    )
    # cluster-size gate from the narrow pin: ≤ n_lists rows, broadcast
    # onto both the keep and quarantine sides — replaces the r14
    # window (which re-exchanged and sorted every assignment row)
    sizes = assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("__n"))
    ok_narrow = assigned.join(
        F.broadcast(sizes.filter(F.col("__n") <= cluster_cap).select("list_id")),
        "list_id",
    )
    quarantined = (
        assigned.join(
            F.broadcast(
                sizes.filter(F.col("__n") > cluster_cap).select("list_id")
            ),
            "list_id",
        )
        .select(F.col(id_col))
        .distinct()
    )
    # quantize ONCE per vector BEFORE the pair join: the join fans out
    # to ~cluster_size/2 pairs per row, and the original per-pair
    # quantized_dot re-ran _q (two transforms with per-element
    # round+cast) on BOTH float arrays for every pair — measured 4.3×
    # slower at sf0.1 (16.4 s → 3.8 s forced) than carrying the tick
    # arrays through the shuffle and scoring with _ticks_dot. The
    # ticks double the per-row shuffle bytes (long vs float), but
    # pairs ≫ rows, so per-pair compute dominates at every scale.
    # Results are bit-identical: same _q expression, same integers.
    # Vectors re-attach from the source scan by id (the narrow pin is
    # broadcast-class at this corpus size; at real scale the
    # assignment is the table's partition column at ingest — see
    # ivf_assign — and the aggregate-form pin this replaces shuffled
    # the same payload through its max_by exchange anyway). CONTRACT:
    # `embeddings` must be a deterministic batch frame — it is
    # re-evaluated here against the frozen assignment pin, so a
    # non-deterministic source (sampled subset, rand()-derived ids, a
    # store another writer advances) could attach different vectors
    # than were assigned. Same batch-determinism class as the eager
    # construction note above (and the operator already rejects
    # streaming frames).
    base = (
        embeddings.select(id_col, vec_col)
        .join(ok_narrow, id_col)
        .withColumn("__vt", _q(F.col(vec_col)))
        .withColumn("__n2", _ticks_norm2(F.col("__vt")))
    )
    left = base.select(
        F.col(id_col).alias("__id_a"),
        F.col("__vt").alias("__ta"),
        "list_id",
        F.col("__n2").alias("__n2_a"),
    )
    right = base.select(
        F.col(id_col).alias("__id_b"),
        F.col("__vt").alias("__tb"),
        "list_id",
        F.col("__n2").alias("__n2_b"),
    )
    score = (
        _ticks_dot(F.col("__ta"), F.col("__tb"))
        / F.sqrt(F.col("__n2_a").cast("double") * F.col("__n2_b").cast("double"))
    ).cast("double")
    # full-width tick arrays on both sides (long[dim]): force the
    # shuffle build, same OOM rationale as neardup_pairs
    dropped = (
        left.hint("shuffle_hash")
        .join(right.hint("shuffle_hash"), "list_id")
        .filter(F.col("__id_b") < F.col("__id_a"))
        .filter(score >= threshold)
        .select(F.col("__id_a").alias(id_col))
        .distinct()
    )
    result = (
        assigned.select(id_col, "list_id")
        .join(dropped.withColumn("__dropped", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "list_id",
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
        )
    )
    if not with_quarantine:
        return result
    return result.join(quarantined, id_col, "left_anti"), quarantined


#: Largest query batch knn_join scores EXACTLY against the full
#: corpus. Beyond this, the (corpus-rows × batch) score fan-out is
#: quadratic work and knn_join AUTO-ROUTES to the IVF-pruned kernel.
MAX_KNN_QUERY_BATCH = 10_000


#: Largest routed query batch whose probe rows ride a BROADCAST
#: (|batch|·nprobe rows × ~dim·8 B of ticks ≈ 100-200 MB at the cap).
#: Beyond it the candidate join shuffle-hashes on list_id instead —
#: identical results, unbounded batch size, no driver broadcast.
MAX_KNN_PROBE_BROADCAST = 100_000

#: Memo of inline-trained routed-knn centroids, keyed by the corpus
#: frame's ANALYZED PLAN (applicationId + semanticHash + the
#: CANONICALIZED plan string, so a hash collision can never serve
#: wrong centroids) plus the column names. Bounded FIFO — each entry
#: holds two strings and k tiny tick lists, never a DataFrame: a
#: pinned frame reference would keep its localCheckpoint blocks alive
#: past the caller's lifetime (the ContextCleaner only reclaims
#: unreferenced plans).
_INLINE_CENTROID_MEMO: dict = {}
_INLINE_CENTROID_MEMO_MAX = 8


def _inline_centroids_for(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> list[tuple[int, list[int]]]:
    """Sample-bounded k-means, memoized per corpus PLAN — a caller
    looping routed ``knn_join`` batches over the same corpus frame
    pays training once, not once per call (the ingest-time persisted
    index remains the production contract; this spares the repeated-
    inline-call foot-gun). Keying by plan means a mutated-in-place
    source served from the memo trains on the OLD bytes — which only
    shifts IVF list boundaries (recall), never the exactness of scores
    on considered pairs, the same staleness class as any cached index.
    """
    try:
        key = (
            embeddings.sparkSession.sparkContext.applicationId,
            embeddings.semanticHash(),
            id_col,
            vec_col,
        )
        canon = (
            embeddings._jdf.queryExecution().analyzed().canonicalized()
            .toString()
        )
    except Exception:
        # a frame whose plan can't be analyzed/hashed just trains
        return train_kmeans(embeddings, id_col=id_col, vec_col=vec_col)
    hit = _INLINE_CENTROID_MEMO.get(key)
    if hit is not None and hit[0] == canon:
        return hit[1]
    cents = train_kmeans(embeddings, id_col=id_col, vec_col=vec_col)
    if len(_INLINE_CENTROID_MEMO) >= _INLINE_CENTROID_MEMO_MAX:
        _INLINE_CENTROID_MEMO.pop(next(iter(_INLINE_CENTROID_MEMO)))
    _INLINE_CENTROID_MEMO[key] = (canon, cents)
    return cents


def _knn_join_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    centroids: list[tuple[int, list[int]]] | None,
    store_assigned: DataFrame | None,
    nprobe: int,
) -> DataFrame:
    """The large-batch k-NN kernel: IVF list-pruned candidates instead
    of the full cross product — the same broadcast-probe shape as
    ``embedding_neardup_against_store``, with a per-query top-k window
    on the bounded candidate set.

    Work is Σ_query Σ_probed-list |list| instead of |corpus|×|batch|:
    with nlist≈√N sizing (SCALE.md) that is ~nprobe·√N per query.
    Against a hive-partitioned ``store_assigned`` corpus the list_id
    equality reaches the scan as partition pruning. RECALL contract:
    a true neighbor outside the query's nprobe lists is missed —
    measured, not asserted, by ivf_recall_report /
    ivf_nprobe_recall_curve; scores for every pair the route DOES
    consider are bit-identical to the exact path (same tick
    arithmetic).
    """
    from pyspark.sql.window import Window

    if centroids is None:
        if store_assigned is not None:
            raise ValueError(
                "knn_join: store_assigned requires the centroids it was "
                "assigned with (the persisted IVF index pins them)"
            )
        # sample-bounded (train_kmeans caps its input), not a full
        # corpus pass — acceptable in the query path; ingest-time
        # centroids via the persisted index skip it entirely, and the
        # memo spares a caller looping batches over one corpus frame
        # from retraining per call
        centroids = _inline_centroids_for(embeddings, id_col, vec_col)
    corpus = (
        ivf_assign_narrow(embeddings, id_col, vec_col, centroids=centroids)
        if store_assigned is None
        else store_assigned
    )
    # quantize + norm ONCE per query row (before the nprobe explode)
    # and once per corpus row (before the join) — embedded in the
    # score they would re-run the interpreted O(dim) aggregate per
    # candidate pair. The norm derives from the BOUND tick column in a
    # second select (never _q(vec) twice — Catalyst does not CSE
    # through higher-order functions, and CollapseProject keeps the
    # multi-referenced alias un-inlined).
    probes = queries.select(
        F.col(id_col).alias("query_id"), _q(F.col(vec_col)).alias("__qt")
    ).select(
        "query_id",
        "__qt",
        _ticks_norm2(F.col("__qt")).alias("__qn2"),
        F.explode(
            ivf_probe_expr("__qt", centroids, nprobe, pre_quantized=True)
        ).alias("list_id"),
    )
    # bound the driver broadcast: a corpus-scale query set (the OOM
    # the old fail-fast guard existed for) shuffle-hashes on list_id
    # instead — same rows out, no broadcast anywhere
    n_bcast = queries.limit(MAX_KNN_PROBE_BROADCAST + 1).count()
    probe_side = (
        F.broadcast(probes)
        if n_bcast <= MAX_KNN_PROBE_BROADCAST
        else probes.hint("shuffle_hash")
    )
    cand = (
        corpus.select(
            F.col(id_col),
            _q(F.col(vec_col)).alias("__st"),
            F.col("list_id"),
        )
        .select("*", _ticks_norm2(F.col("__st")).alias("__sn2"))
        .join(probe_side, "list_id")
        .filter(F.col(id_col) != F.col("query_id"))
    )
    score = (
        _ticks_dot(F.col("__st"), F.col("__qt")).cast("double")
        / F.sqrt(F.col("__sn2").cast("double") * F.col("__qn2").cast("double"))
    ).cast("double")
    scored = cand.select("query_id", F.col(id_col), score.alias("score"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .orderBy("query_id", "rn")
    )


def knn_join(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_batch: int = MAX_KNN_QUERY_BATCH,
    centroids: list[tuple[int, list[int]]] | None = None,
    store_assigned: DataFrame | None = None,
    nprobe: int = IVF_NPROBE,
    route: str = "auto",
) -> DataFrame:
    """Batch top-k: every query vector against the corpus (the k-NN
    join), one corpus scan total — EXACT for small batches, AUTO-
    ROUTED through IVF list-pruning for large ones.

    Small batch (≤ ``max_query_batch``, one bounded limit+count probe
    decides): the query set broadcasts, each corpus row scores against
    all queries in one pass of JVM higher-order expressions, and a
    window partitioned by query id keeps the top k — exact by
    construction. Large batch: the same brute kernel is |corpus| ×
    |batch| work (measured 9.7× wall at 10×corpus/10×batch = 100×
    work), so the call routes to ``_knn_join_ivf`` — IVF-pruned
    candidates, near-linear in batch size (probe rows broadcast up to
    MAX_KNN_PROBE_BROADCAST queries, shuffle-hash beyond — no
    unbounded driver broadcast on either route), approximate with the
    IVF recall contract (a neighbor outside the query's ``nprobe``
    lists is missed; ivf_recall_report measures the rate). Scores on
    considered pairs are bit-identical across the two routes. Pass
    ``centroids`` (+ optionally the persisted ``store_assigned``
    (id, vec, list_id) corpus, which then prunes by partition instead
    of re-assigning) to keep training at ingest; a routed call without
    them trains sample-bounded centroids inline.

    ``route`` makes the exact→approximate transition a CHOICE, never a
    surprise: ``"auto"`` (default) routes large batches and emits a
    UserWarning naming the recall contract when it does — a batch that
    drifts past the threshold degrades loudly, not silently;
    ``"exact"`` restores the old contract exactly (brute or a loud
    ValueError over ``max_query_batch`` — for callers whose results
    feed something that cannot tolerate approximation); ``"ivf"``
    forces the routed kernel at any batch size (no warning — the
    caller asked for it).

    Output: (query_id, vec_id, score, rn) with rn 1..k per query.
    """
    import warnings

    from pyspark.sql.window import Window

    if route not in ("auto", "exact", "ivf"):
        raise ValueError(f"route must be 'auto', 'exact' or 'ivf', got {route!r}")
    if route != "ivf":
        n_probe = queries.limit(max_query_batch + 1).count()
    if route == "ivf" or (route == "auto" and n_probe > max_query_batch):
        if route == "auto":
            warnings.warn(
                f"knn_join: query batch exceeds max_query_batch="
                f"{max_query_batch}; routing through the IVF-pruned "
                f"kernel (approximate: neighbors outside each query's "
                f"nprobe={nprobe} lists are missed — ivf_recall_report "
                "measures the rate). Pass route='exact' to refuse, or "
                "route='ivf' to silence this.",
                UserWarning,
                stacklevel=2,
            )
        return _knn_join_ivf(
            embeddings,
            queries,
            k,
            id_col,
            vec_col,
            centroids,
            store_assigned,
            nprobe,
        )
    if route == "exact" and n_probe > max_query_batch:
        raise ValueError(
            f"knn_join(route='exact'): query batch exceeds "
            f"max_query_batch={max_query_batch} — the brute kernel is "
            "|corpus|×|batch| work and the query broadcast is unbounded; "
            "raise max_query_batch deliberately or use route='auto'/'ivf'"
        )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _q(F.col(vec_col)).alias("__qt"),
    ).withColumn("__qn2", _ticks_norm2(F.col("__qt")))
    # ticks and norms computed ONCE per row/query before the join —
    # embedded in the score expression, the interpreted O(dim)
    # quantize+aggregate would re-run once per (row × query) pair
    # (the semantic_dedup lesson: 4.3× measured on the pair join)
    corpus = embeddings.select(
        F.col(id_col),
        _q(F.col(vec_col)).alias("__vt"),
    ).withColumn("__n2", _ticks_norm2(F.col("__vt")))
    score = (
        _ticks_dot(F.col("__vt"), F.col("__qt"))
        / F.sqrt(F.col("__n2").cast("double") * F.col("__qn2").cast("double"))
    ).cast("double")
    scored = (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col), score.alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .orderBy("query_id", "rn")
    )
