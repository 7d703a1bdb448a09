"""Similarity search over embedding columns (array<float>).

Tiers: ``cosine_topk`` (exact, broadcast queries), ``lsh_topk`` /
``lsh_near_dup_pairs`` (random-hyperplane buckets, candidates join on
bucket equality, exact re-rank), ``ivf_topk`` (coarse k-means cells,
probe n cells, exact re-rank), ``cosine_near_dup_pairs`` (exact
all-pairs baseline).

Engineering rules learned by measurement on this engine:

1. Per-PAIR scoring uses an UNROLLED fixed-dim dot product
   (``dot(a, b, dim)``) over MATERIALIZED columns — higher-order
   ``aggregate``/``zip_with`` run interpreted (no codegen) and were
   ~10x slower per pair.
2. Per-VECTOR dense math (bucket signatures, centroid assignment,
   block matmuls) lives in Arrow-batched ``mapInArrow`` numpy stages:
   a Column formulation of n_tables x n_planes x dim terms compiles
   megabytes of codegen (minutes of stall), and — crucially —
   ``mapInArrow`` is a hard materialization barrier. Catalyst
   collapses Projects into joins, so any expensive projection feeding
   a join would otherwise be RE-EVALUATED per joined row.

At 100 TB the bucket/cell ids are persisted columns the index table is
partitioned by, so a query prunes partitions; the plans here keep that
shape (id column -> equi-join), making the swap a storage change, not
a plan change.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logstash_filter_elasticsearch_spark.operators.layout import spread

# Upper bound on the rows any operator here collects to the driver (a
# broadcast query side, or cosine_near_dup_pairs' whole corpus): past
# it the operator raises instead of materializing the input there.
MAX_COLLECT_ROWS = 100_000


def dot(a: str, b: str, dim: int) -> Column:
    """Dot product of array columns ``a`` and ``b``, UNROLLED into a
    plain arithmetic expression that whole-stage codegen compiles; a
    higher-order ``aggregate``/``zip_with`` formulation runs interpreted
    per element and measured ~10x slower on pair-heavy plans (a 2M-pair
    near-dup scan went 20.7s -> ~2s after unrolling). Built from one SQL
    string: the same tree as ``a[0] * b[0] + a[1] * b[1] + ...`` made of
    Columns, in one JVM call instead of ~60 per term."""
    return F.expr(" + ".join(f"`{a}`[{i}] * `{b}`[{i}]" for i in range(dim)))


def _list_to_matrix(v, dim: int) -> np.ndarray:
    """Arrow list<float|double> array -> (len(v), dim) float64 matrix.

    Zero-copy flatten+reshape for double input, so the result may be a
    READ-ONLY view of the Arrow buffer: never write into it in place.
    Raises ValueError on a null vector or on any row whose length is not
    ``dim``, checked from the list offsets (a ragged batch whose lengths
    happen to sum to n*dim must not be silently re-sliced).
    """
    if v.null_count:
        raise ValueError(f"{v.null_count} null vector(s); vectors must be non-null")
    lengths = np.diff(v.offsets.to_numpy())
    bad = lengths[lengths != dim]
    if bad.size:
        raise ValueError(f"vector of length {bad[0]} in a column of dim {dim}")
    flat = v.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(len(v), dim)


def _collect_vectors(df: DataFrame, id_col: str, vec_col: str, max_rows: int):
    """Driver-side (ids, float64 matrix) of a SMALL frame; ``dim`` is the
    first vector's length.

    One Arrow collect of at most ``max_rows + 1`` rows: an oversized
    input raises without ever being materialized on the driver, and
    without a separate count() job re-scanning the source (toArrow, not
    the row-based collect: 0.65s vs 2.26s for 20k vectors, guide §6).
    Vectors are cast to array<double> JVM-side; ids keep their type.
    """
    tbl = (
        df.select(
            F.col(id_col).alias("i"), F.col(vec_col).cast("array<double>").alias("v")
        )
        .limit(max_rows + 1)
        .toArrow()
    )
    if tbl.num_rows > max_rows:
        raise ValueError(
            f"more than max_rows={max_rows} vectors to collect on the driver: "
            f"this side is broadcast by contract; use an approximate tier "
            f"(lsh_topk / lsh_near_dup_pairs) at scale, or raise the bound "
            f"explicitly"
        )
    v = tbl.column("v").combine_chunks()
    dim = v.offsets[1].as_py() - v.offsets[0].as_py() if len(v) else 0
    return tbl.column("i").to_numpy(zero_copy_only=False), _list_to_matrix(v, dim)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries must be small (it is collected and broadcast, at most
    ``MAX_COLLECT_ROWS`` rows). Output: (query_id, neighbor_id, cos,
    rank) — self-matches excluded; no rows for an empty query side.
    """
    # Score in an Arrow-batched numpy stage (guide §4.2) with the
    # queries shipped once via SparkContext.broadcast — the Column
    # formulation (broadcast nested-loop join + a 64-term unrolled dot
    # per pair) measured ~3x slower because the giant unrolled
    # expression evaluates per pair outside effective JIT. Exactness:
    # the accumulation loops run SEQUENTIALLY over dimensions
    # (acc += q[i]*c[i], one vectorized op per dimension), which is the
    # identical left-to-right IEEE double chain the unrolled Column sum
    # produced — results verified bit-identical, including float->
    # double element casts before each multiply.
    q_ids_np, q_mat = _collect_vectors(queries, id_col, vec_col, MAX_COLLECT_ROWS)
    dim = q_mat.shape[1]
    bc = corpus.sparkSession.sparkContext.broadcast((q_ids_np, q_mat))
    id_t = corpus.schema[id_col].dataType.simpleString()

    # mapInArrow: corpus vectors come off the batch zero-copy
    # (flatten+reshape) instead of a per-row object-array build; the
    # float->double element casts and the sequential per-dimension
    # accumulation are unchanged, so results stay bit-identical
    def score(batches):
        import pyarrow as pa

        q_ids, q_mat = bc.value
        nq = len(q_ids)
        qn = np.zeros(nq)
        for i in range(dim):
            d = q_mat[:, i]
            qn = qn + d * d
        qn = np.sqrt(qn)
        for b in batches:
            n = b.num_rows
            if not n or not nq:
                continue
            c = _list_to_matrix(b.column(1), dim)
            cn = np.zeros(n)
            for i in range(dim):
                d = c[:, i]
                cn = cn + d * d
            cn = np.sqrt(cn)
            ids = b.column(0).to_numpy(zero_copy_only=False)
            out_q, out_c, out_cos = [], [], []
            for j in range(nq):
                acc = np.zeros(n)
                for i in range(dim):
                    acc = acc + q_mat[j, i] * c[:, i]
                cos = acc / (qn[j] * cn)
                mask = ids != q_ids[j]
                out_q.append(np.full(int(mask.sum()), q_ids[j]))
                out_c.append(ids[mask])
                out_cos.append(cos[mask])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q)),
                    pa.array(np.concatenate(out_c)),
                    pa.array(np.concatenate(out_cos)),
                ],
                ["query_id", "neighbor_id", "cos"],
            )

    src = spread(
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v")),
        skip_tiny=True,
    )
    scored = src.mapInArrow(
        score, schema=f"query_id {id_t}, neighbor_id {id_t}, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("_rn").alias("rank"))
    )


def _planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def auto_lsh_params(
    threshold: float, target_recall: float = 0.9, max_tables: int = 32
) -> tuple[int, int]:
    """Smallest hyperplane-LSH configuration (n_planes, n_tables) whose
    EXPECTED recall at cosine == threshold meets ``target_recall``.

    Sign-random-projection collision probability per plane is
    p = 1 - acos(threshold)/pi (Goemans-Williamson); b planes AND into
    a bucket, t tables OR: recall(θ) = 1 - (1 - p^b)^t. More planes
    per table means exponentially fewer candidate pairs (buckets shrink
    2x per plane) but more tables for the same recall, so pick the
    LARGEST b whose required t still fits ``max_tables`` — candidates
    per true pair scale ~ t/2^b, which is monotonically better in b for
    p > 1/2 (i.e. threshold > 0).

    This is the datasketch-style optimal-(b,r) computation transplanted
    to hyperplane LSH; it makes the operator honest at ANY threshold
    instead of silently collapsing to ~5% recall when the caller asks
    for a low one (hyperplane LSH's natural regime is high-cos).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0, 1), got {target_recall}")
    p = 1.0 - math.acos(threshold) / math.pi
    for b in range(16, 0, -1):
        pb = p**b
        if pb >= 1.0:
            return b, 1
        t = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pb))
        if t <= max_tables:
            return b, t
    return 1, max_tables


def _bucket_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    id_alias: str,
    planes_by_table: list[np.ndarray],
) -> DataFrame:
    """(id, v, n, table, bucket) rows — one per LSH table per vector.

    numpy sign-projection inside an Arrow-batched ``mapInArrow`` stage:
    X @ P.T for all tables at once, bits packed to an int64 bucket.
    A Column-expression formulation (n_tables x n_planes x dim unrolled
    terms) compiles megabytes of codegen and measured minutes of stall;
    dense projections belong in BLAS. The stage is also a hard
    materialization barrier, so downstream joins reference real columns.
    """
    import pyarrow as pa

    weights = [1 << i if i < 63 else -(1 << 63) for i in range(len(planes_by_table[0]))]
    wv = np.array(weights, dtype=np.int64)
    dim = planes_by_table[0].shape[1]

    # mapInArrow, not mapInPandas: the vector column rides THROUGH the
    # stage (the candidate join re-ranks on it), and a pandas output
    # pays a per-row object-array -> Arrow list conversion PER TABLE
    # copy — measured as the dominant stage cost on small inputs. An
    # Arrow batch reuses the input's id/vector buffers zero-copy in
    # each per-table output batch; only n/table/bucket are newly built.
    def stage(batches):
        for b in batches:
            if not b.num_rows:
                continue
            ids, v = b.column(0), b.column(1)
            x = _list_to_matrix(v, dim)
            n = pa.array(np.linalg.norm(x, axis=1))
            for t, planes in enumerate(planes_by_table):
                bits = (x @ planes.T) >= 0
                buckets = bits.astype(np.int64) @ wv
                yield pa.RecordBatch.from_arrays(
                    [
                        ids,
                        v,
                        n,
                        pa.array(np.full(b.num_rows, t, dtype=np.int32)),
                        pa.array(buckets),
                    ],
                    [id_alias, "v", "n", "table", "bucket"],
                )

    # spread coarse scans (single-file tables arrive as ONE partition —
    # guide §2.5) so the numpy projection parallelizes across the pool.
    # id cast to long JVM-side: the Arrow batches pass through to the
    # declared long output column unconverted, so the input vector type
    # must already match (the old pandas path silently coerced)
    src = spread(
        df.select(
            F.col(id_col).cast("long").alias("i"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ),
        skip_tiny=True,
    )
    return src.mapInArrow(
        stage,
        schema=f"{id_alias} long, v array<double>, n double, table int, bucket long",
    )


def _cell_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    id_alias: str,
    centroids: np.ndarray,
    n_probe: int,
) -> DataFrame:
    """(id, v, n, cell) rows — top n_probe centroid cells per vector,
    computed with one numpy matmul per Arrow batch. mapInArrow so the
    vector passthrough reuses the input buffers zero-copy per probe
    copy (see _bucket_rows)."""
    import pyarrow as pa

    dim = centroids.shape[1]

    def stage(batches):
        for b in batches:
            if not b.num_rows:
                continue
            ids, v = b.column(0), b.column(1)
            x = _list_to_matrix(v, dim)
            n = np.maximum(np.linalg.norm(x, axis=1), 1e-12)
            na = pa.array(n)
            sims = (x / n[:, None]) @ centroids.T
            top = np.argsort(-sims, axis=1)[:, :n_probe]
            for j in range(n_probe):
                yield pa.RecordBatch.from_arrays(
                    [ids, v, na, pa.array(top[:, j].astype(np.int32))],
                    [id_alias, "v", "n", "cell"],
                )

    src = spread(
        df.select(
            F.col(id_col).cast("long").alias("i"),
            F.col(vec_col).cast("array<double>").alias("v"),
        ),
        skip_tiny=True,
    )
    return src.mapInArrow(
        stage, schema=f"{id_alias} long, v array<double>, n double, cell int"
    )


def train_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_rows: int = 2048,
    iters: int = 5,
    seed: int = 42,
) -> list[list[float]]:
    """Driver-side k-means (spherical) on a DETERMINISTIC sample.

    The sample is the first ``sample_rows`` by id order — stable across
    runs and partitionings (no RNG in the scan). Lloyd iterations run in
    numpy on the driver; at 100 TB you train once and persist the
    centroid table next to the index, exactly like a FAISS IVF coarse
    quantizer.
    """
    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(sample_rows)
        .collect()
    )
    x = np.array([r["v"] for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cent.T, axis=1)
        for j in range(len(cent)):
            members = x[assign == j]
            if len(members):
                c = members.mean(axis=0)
                cent[j] = c / max(np.linalg.norm(c), 1e-12)
    return cent.tolist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    to its nearest centroid, probe the query's ``n_probe`` nearest
    cells, re-rank candidates exactly.

    The scale path for ANN beyond LSH: the corpus assignment is a
    persistable column (partition the index table by ``_cell`` so a
    query prunes to n_probe/n_centroids of the data).
    """
    if centroids is None:
        centroids = train_centroids(
            corpus, id_col, vec_col, n_centroids=n_centroids, seed=seed
        )
    cent = np.array(centroids, dtype=np.float64)
    dim = cent.shape[1]
    c = _cell_rows(corpus, id_col, vec_col, "neighbor_id", cent, 1).withColumnRenamed(
        "v", "_cv"
    ).withColumnRenamed("n", "_cn")
    # query-side cells on the driver (the q frame is broadcast by
    # contract): same numpy ops as _cell_rows, one less Python stage
    q_ids, qx = _collect_vectors(
        queries.withColumn(id_col, F.col(id_col).cast("long")),
        id_col, vec_col, MAX_COLLECT_ROWS,
    )
    qn = np.maximum(np.linalg.norm(qx, axis=1), 1e-12)
    sims = (qx / qn[:, None]) @ cent.T if len(q_ids) else np.zeros((0, len(cent)))
    top = np.argsort(-sims, axis=1)[:, :n_probe]
    import pandas as pd

    q_pdf = pd.DataFrame(
        {
            "query_id": np.repeat(q_ids, n_probe),
            "_qv": [
                list(qx[i]) for i in range(len(q_ids)) for _ in range(n_probe)
            ],
            "_qn": np.repeat(qn, n_probe),
            "cell": top.reshape(-1).astype(np.int32),
        }
    )
    q = corpus.sparkSession.createDataFrame(
        q_pdf, schema="query_id long, _qv array<double>, _qn double, cell int"
    )
    cands = c.join(F.broadcast(q), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    # per-candidate exact re-rank: unrolled dot over MATERIALIZED arrays
    # (mapInArrow is a barrier — nothing re-evaluates inside the join)
    scored = cands.withColumn(
        "cos", dot("_qv", "_cv", dim) / (F.col("_qn") * F.col("_cn"))
    ).select("query_id", "neighbor_id", "cos").distinct()
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("_rn").alias("rank"))
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_rows: int = MAX_COLLECT_ROWS,
) -> DataFrame:
    """Exact embedding near-duplicate pairs: all (a < b) with
    cosine >= threshold.

    Vectorized block matmul: the (normalized) corpus matrix is shipped
    once to every executor, and an Arrow-batched ``mapInArrow`` stage
    computes ``A_block @ B.T`` with numpy BLAS per batch — dense linear
    algebra is the one place a vectorized numpy stage beats codegen
    expressions by an order of magnitude (measured 20s -> ~2s on 2M
    pairs; a per-pair Column dot is re-evaluated inside the join loop).

    O(n^2) with the full corpus in memory on each executor — this is
    the exact baseline/oracle path; use ``lsh_near_dup_pairs`` at scale.
    The corpus matrix ships via ``SparkContext.broadcast`` (torrent
    blocks, one copy per executor), NOT closure capture (which would
    re-serialize it into every task binary).

    ``max_rows`` makes the small-scale declaration EXECUTABLE: a corpus
    past the bound raises instead of silently materializing 100 TB on
    the driver. Raise the bound deliberately if you really mean it.
    """
    ids, mat = _collect_vectors(df, id_col, vec_col, max_rows)
    ids = np.asarray(ids, dtype=np.int64)
    # not in place: the collected matrix may be a read-only Arrow view
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    order = np.argsort(ids)
    bc = df.sparkSession.sparkContext.broadcast((ids[order], mat[order]))
    dim = mat.shape[1]

    # mapInArrow: the probe-side vectors come off the batch zero-copy
    # (flatten+reshape) instead of a per-row object-array conversion
    def score(batches):
        import pyarrow as pa

        ids, mat = bc.value
        for b in batches:
            if not b.num_rows:
                continue
            a_ids = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            a = _list_to_matrix(b.column(1), dim)
            a = a / np.maximum(np.linalg.norm(a, axis=1, keepdims=True), 1e-12)
            sims = a @ mat.T
            r, c = np.where(sims >= threshold)
            keep = a_ids[r] < ids[c]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(a_ids[r][keep]),
                    pa.array(ids[c][keep]),
                    pa.array(sims[r, c][keep]),
                ],
                ["id_a", "id_b", "cos"],
            )

    # spread the probe side: the whole corpus-sized matmul otherwise
    # runs in ONE task when the input is a single-file scan (guide
    # §2.5) — measured 19.5s -> ~1s at 20k vectors on 32 cores
    src = spread(
        df.select(F.col(id_col).cast("long").alias("i"), F.col(vec_col).alias("v")),
        skip_tiny=True,
    )
    return src.mapInArrow(score, schema="id_a long, id_b long, cos double")


def lsh_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    n_planes: int | None = None,
    n_tables: int | None = None,
    seed: int = 42,
    target_recall: float = 0.9,
    max_tables: int = 32,
) -> DataFrame:
    """Approximate near-dup pairs: candidates share a hyperplane bucket
    in ANY of n_tables tables (self-join on (table, bucket) — never a
    cross join), then exact cosine filter. The 100 TB shape: bucket ids
    are a persisted column, the self-join shuffles only bucket-sized
    groups.

    By default (n_planes/n_tables omitted) the banding is SOLVED FROM
    THE THRESHOLD via ``auto_lsh_params`` so expected recall at the
    threshold meets ``target_recall`` — a fixed (10, 6) banding has
    ~95% MISS rate at threshold 0.4 while looking fine at 0.9. Passing
    both explicitly opts out (the caller owns the recall math)."""
    if (n_planes is None) != (n_tables is None):
        raise ValueError("pass both n_planes and n_tables, or neither")
    if n_planes is None:
        n_planes, n_tables = auto_lsh_params(threshold, target_recall, max_tables)
    planes = [
        np.array(_planes(dim, n_planes, seed + 1000 * t)) for t in range(n_tables)
    ]
    srows = _bucket_rows(df, id_col, vec_col, "id", planes)
    # both join sides read srows: persist so the Arrow-batched
    # signature projection runs once, not once per side (kept by the
    # CacheManager until the caller's unpersist()/clearCache())
    from pyspark import StorageLevel

    srows = srows.persist(StorageLevel.MEMORY_AND_DISK)
    left = srows.select(
        F.col("id").alias("id_a"), F.col("v").alias("_va"), F.col("n").alias("_na"),
        "table", "bucket",
    )
    right = srows.select(
        F.col("id").alias("id_b"), F.col("v").alias("_vb"), F.col("n").alias("_nb"),
        "table", "bucket",
    )
    cands = (
        left.join(right, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_va", "_vb", "_na", "_nb")
        # dedup across tables on the ID PAIR only — a full-row distinct
        # would hash/compare the two 64-double vectors per candidate
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cands.withColumn(
            "cos", dot("_va", "_vb", dim) / (F.col("_na") * F.col("_nb"))
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH + exact re-rank.

    n_tables independent signatures; a candidate matches a query if any
    table's bucket agrees. Recall rises with n_tables, cost with bucket
    size. Candidates are then scored exactly like cosine_topk.
    """
    planes = [
        np.array(_planes(dim, n_planes, seed + 1000 * t)) for t in range(n_tables)
    ]
    c_sig = _bucket_rows(corpus, id_col, vec_col, "neighbor_id", planes).select(
        "neighbor_id", F.col("v").alias("_cv"), F.col("n").alias("_cn"), "table", "bucket"
    )
    # query-side signatures on the driver (the q frame is broadcast by
    # contract): same numpy ops as _bucket_rows, one less Python stage
    import pandas as pd

    weights = [1 << i if i < 63 else -(1 << 63) for i in range(n_planes)]
    wv = np.array(weights, dtype=np.int64)
    q_ids, qx = _collect_vectors(
        queries.withColumn(id_col, F.col(id_col).cast("long")),
        id_col, vec_col, MAX_COLLECT_ROWS,
    )
    qn = np.linalg.norm(qx, axis=1)
    frames = []
    for t, pl in enumerate(planes if len(q_ids) else ()):
        buckets = ((qx @ pl.T) >= 0).astype(np.int64) @ wv
        frames.append(
            pd.DataFrame(
                {
                    "query_id": q_ids,
                    "_qv": [list(r) for r in qx],
                    "_qn": qn,
                    "table": np.full(len(q_ids), t, dtype=np.int32),
                    "bucket": buckets,
                }
            )
        )
    q_sig = corpus.sparkSession.createDataFrame(
        pd.concat(frames, ignore_index=True)
        if frames
        else pd.DataFrame(
            {"query_id": [], "_qv": [], "_qn": [], "table": [], "bucket": []}
        ),
        schema="query_id long, _qv array<double>, _qn double, table int, bucket long",
    )
    cands = (
        c_sig.join(F.broadcast(q_sig), ["table", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "_qv", "_qn", "neighbor_id", "_cv", "_cn")
        # key the cross-table dedup on the ID pair, not the vectors
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.withColumn(
        "cos", dot("_qv", "_cv", dim) / (F.col("_qn") * F.col("_cn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "neighbor_id", "cos", F.col("_rn").alias("rank"))
    )
