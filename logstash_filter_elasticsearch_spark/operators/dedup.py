"""Deduplication operators for training-data pipelines.

Beyond the reference's scope (it enriches; it never dedups), but the
LRU-style dedup required by the graft north star (BASELINE.json:6) and
standard web-scale corpus hygiene both land here. Every operator is a
pure DataFrame program designed for the 100 TB shape:

* exact/normalized dedup: group on a 128-bit content hash, never on the
  raw text — the shuffle moves 16-byte keys, not documents.
* MinHash + LSH: shingle -> per-permutation xxhash64 min -> band
  buckets -> candidate join -> exact-Jaccard verify. The candidate join
  is on (band_idx, band_hash) so only near-duplicates ever meet; the
  full O(N^2) pair space is never materialized.
* SimHash: 64-bit sign-sum fingerprint computed in one exploded
  aggregate; near-dup candidates via 16-bit chunk blocking (Hamming
  distance <= 3 guarantees a matching chunk by pigeonhole).
* n-gram Jaccard: exact verify used standalone for small/medium sets.

All hashing is seeded/deterministic (xxhash64 with fixed literal seeds)
so results are reproducible across runs and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logstash_filter_elasticsearch_spark.operators.layout import spread


def normalize_text(col: Column) -> Column:
    """lowercase, strip punctuation, collapse whitespace."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, normalized: bool = False
) -> DataFrame:
    """Keep the min-id row per distinct content; count duplicates.

    Groups on md5(content), not content: at 10^12 rows the shuffle key
    is 16 bytes/row regardless of document size.
    """
    content = normalize_text(F.col(text_col)) if normalized else F.col(text_col)
    # no spread here: the aggregation shuffles only 16-byte hashes and
    # the single md5 pass is cheaper than shuffling the raw rows
    # (measured 0.35s vs 0.65s at sf1.0)
    return (
        df.withColumn("_h", F.md5(content))
        .groupBy("_h")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("_h")
    )


def word_shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (one regex pass).

    Same expression as ``with_word_shingles`` for use in ad-hoc selects.
    """
    norm = F.trim(F.regexp_replace(text_col, r"\s+", " "))
    gram = r"(?=((?:\S+ ){%d}\S+))\S+" % (n - 1)
    grams = F.regexp_extract_all(norm, F.lit(gram), 1)
    return F.array_distinct(
        F.when(F.size(grams) > 0, grams).otherwise(F.array(norm))
    )


def with_word_shingles(
    df: DataFrame, text_col: str, n: int = 3, out: str = "_sh"
) -> DataFrame:
    """Shingles via ONE native regex pass (stays in codegen).

    Overlapping word n-grams extracted with a lookahead capture —
    ``(?=((?:\\S+ ){n-1}\\S+))\\S+`` over whitespace-normalized text
    yields group 1 at every word start with >= n words remaining.
    Higher-order ``transform``+``slice``+``array_join`` runs
    interpreted per element and measured ~10x slower (2.8s -> 0.3s for
    5000 docs); semantics are identical: distinct, space-joined, and a
    document shorter than n words contributes its whole text as the
    single shingle.
    """
    return df.withColumn(out, word_shingles(F.col(text_col), n))


def _drop_heavy_keys(rows: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """Remove rows whose key appears in more than ``cap`` rows.

    Heavy-hitter guard for posting-list aggregations: a stop-shingle /
    degenerate bucket with document frequency f would build ONE
    f-element collect_list row (OOM at web scale) and f^2/2 pairs.
    Detection is a cheap map-side-combined count; the heavy-key set is
    tiny by construction (keys with > cap occurrences), so the removal
    is a broadcast left_anti join — no extra shuffle of ``rows``.
    A post-aggregation size filter would NOT help: the huge row gets
    built before the filter sees it.
    """
    heavy = (
        rows.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > cap)
        .select(*key_cols)
    )
    return rows.join(F.broadcast(heavy), key_cols, "left_anti")


def _pairs_same_block(ids, szs, flat, lens, threshold):
    """Exact intersection counts for every unordered doc pair of ONE
    block that shares a shingle hash — segment-cartesian index arrays
    plus one sort-based unique. Returns (id_a, id_b, sz_a, sz_b,
    common) with a conservative threshold prefilter applied (the
    caller re-applies the exact double-division Jaccard filter in
    Spark, so the prefilter slack only costs a few borderline rows,
    never correctness)."""
    import numpy as np

    if not len(flat):
        return None
    drow = np.repeat(np.arange(len(ids)), lens)
    order = np.argsort(flat, kind="stable")
    codes, drow = flat[order], drow[order]
    seg_start = np.flatnonzero(np.r_[True, codes[1:] != codes[:-1]])
    f = np.diff(np.r_[seg_start, len(codes)])
    row_seg = np.repeat(np.arange(len(f)), f)
    local = np.arange(len(codes)) - seg_start[row_seg]
    rep = f[row_seg] - local - 1
    tot = int(rep.sum())
    if tot == 0:
        return None
    a_rows = np.repeat(np.arange(len(codes)), rep)
    cum0 = np.concatenate(([0], np.cumsum(rep)[:-1]))
    b_rows = np.arange(tot) - np.repeat(cum0, rep) + a_rows + 1
    da, db = drow[a_rows], drow[b_rows]
    lo_i, hi_i = np.minimum(da, db), np.maximum(da, db)
    key = lo_i * len(ids) + hi_i
    uk, counts = np.unique(key, return_counts=True)
    da, db = uk // len(ids), uk % len(ids)
    return _orient_and_prefilter(
        ids[da], szs[da], ids[db], szs[db], counts, threshold
    )


def _pairs_cross_block(
    ids_a, szs_a, flat_a, lens_a, ids_b, szs_b, flat_b, lens_b, threshold
):
    """Cross-block sibling of _pairs_same_block: every (a-doc, b-doc)
    pair sharing a hash, via sorted-side searchsorted ranges."""
    import numpy as np

    if not len(ids_a) or not len(ids_b):
        return None
    drow_a = np.repeat(np.arange(len(ids_a)), lens_a)
    drow_b = np.repeat(np.arange(len(ids_b)), lens_b)
    oa = np.argsort(flat_a, kind="stable")
    ob = np.argsort(flat_b, kind="stable")
    ca, drow_a = flat_a[oa], drow_a[oa]
    cb, drow_b = flat_b[ob], drow_b[ob]
    left = np.searchsorted(cb, ca, "left")
    rep = np.searchsorted(cb, ca, "right") - left
    tot = int(rep.sum())
    if tot == 0:
        return None
    a_rows = np.repeat(np.arange(len(ca)), rep)
    cum0 = np.concatenate(([0], np.cumsum(rep)[:-1]))
    b_pos = np.arange(tot) - np.repeat(cum0, rep) + np.repeat(left, rep)
    da, db = drow_a[a_rows], drow_b[b_pos]
    key = da * len(ids_b) + db
    uk, counts = np.unique(key, return_counts=True)
    da, db = uk // len(ids_b), uk % len(ids_b)
    return _orient_and_prefilter(
        ids_a[da], szs_a[da], ids_b[db], szs_b[db], counts, threshold
    )


def _orient_and_prefilter(ia, sa, ib, sb, counts, threshold):
    """Canonical (id_a < id_b) orientation + the conservative
    J >= t <=> common(1+t) >= t(sza+szb) prefilter."""
    import numpy as np

    swap = ia > ib
    ida = np.where(swap, ib, ia)
    idb = np.where(swap, ia, ib)
    sza = np.where(swap, sb, sa)
    szb = np.where(swap, sa, sb)
    keep = counts * (1.0 + threshold) >= threshold * (sza + szb) - 1e-6
    return ida[keep], idb[keep], sza[keep], szb[keep], counts[keep]


def _block_pair_fn(n_blocks: int, threshold: float):
    """applyInPandas body for ngram_jaccard_pairs (replicated-shuffle
    path): the group carries every doc of blocks (i, g) as (id, sz,
    shingle-hash array); counting per unordered pair happens in
    exactly one block-pair task, so the union of all tasks' emissions
    is exact."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "id_a": pd.Series(dtype="int64"),
            "id_b": pd.Series(dtype="int64"),
            "sz_a": pd.Series(dtype="int64"),
            "sz_b": pd.Series(dtype="int64"),
            "_common": pd.Series(dtype="int64"),
        }
    )

    def fn(pdf):
        if not len(pdf):
            return empty
        bp = int(pdf["_bp"].iloc[0])
        i, g = divmod(bp, n_blocks)
        ids = pdf["_id"].to_numpy(np.int64)
        szs = pdf["_sz"].to_numpy(np.int64)
        blks = pdf["_blk"].to_numpy(np.int64)
        lists = pdf["_shl"].to_numpy()
        lens = np.fromiter(
            (len(a) for a in lists), dtype=np.int64, count=len(lists)
        )
        if i == g:
            flat = (
                np.concatenate(lists).astype(np.int64, copy=False)
                if len(lists)
                else np.empty(0, np.int64)
            )
            out = _pairs_same_block(ids, szs, flat, lens, threshold)
        else:
            am = blks == i
            la, lb = lists[am], lists[~am]
            flat_a = (
                np.concatenate(la).astype(np.int64, copy=False)
                if len(la)
                else np.empty(0, np.int64)
            )
            flat_b = (
                np.concatenate(lb).astype(np.int64, copy=False)
                if len(lb)
                else np.empty(0, np.int64)
            )
            out = _pairs_cross_block(
                ids[am], szs[am], flat_a, lens[am],
                ids[~am], szs[~am], flat_b, lens[~am], threshold,
            )
        if out is None:
            return empty
        ida, idb, sza, szb, counts = out
        return pd.DataFrame(
            {
                "id_a": ida,
                "id_b": idb,
                "sz_a": sza,
                "sz_b": szb,
                "_common": counts,
            }
        )

    return fn


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = 10_000,
    blocks: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingle sets.

    Output: (id_a, id_b, jaccard) with id_a < id_b — every pair whose
    Jaccard over the (optionally df-capped) shingle universe reaches
    ``threshold``.

    Algorithm: block-pair intersection counting. Docs are hashed into
    B blocks; each doc's (id, sz, sorted shingle-hash array) row is
    replicated to its B block-pair groups, and one Arrow-batched numpy
    task per block pair counts intersections for every co-occurring
    doc pair of that pair of blocks (segment-cartesian index arrays +
    one sort-based unique), emitting only rows that can reach the
    threshold. The exact Jaccard filter is then re-applied in Spark.

    Why this shape: counting |A∩B| fundamentally visits Σ_s f_s(f_s-1)/2
    co-occurrences (87M at sf1.0 — docs drawn from a small vocabulary
    co-occur densely), but the old posting-list plan SHUFFLED one row
    per co-occurrence into a hash aggregate (~2.8 GB, the measured
    bottleneck; guide §2.3 "shuffle keys and metadata, not payloads" —
    here even the keys were the payload). Block replication shuffles
    nnz x B rows instead (42M at sf1.0, B=16) and the quadratic work
    happens inside numpy at memory speed, emitting ~2.5k rows. The
    JVM->Python boundary carries doc arrays once, not per pair
    (guide §4.2).

    ``df_cap``: stop-shingle cutoff — shingles occurring in more than
    df_cap documents are excluded from pair generation (standard
    near-dup practice: such shingles carry no similarity signal but
    cost f^2/2 co-occurrences). Set sizes are recomputed AFTER the
    cutoff, so a dropped shingle leaves both the intersection and the
    union: Jaccard stays exact over the reduced shingle universe.
    None disables the guard (exact semantics over the full universe).

    ``blocks``: block count B; default derives from the session's
    shuffle parallelism (block pairs ~ 2x reducers) so the same code
    scales from local[2] to a cluster. Replication cost is nnz x B
    rows; per-task memory is O(nnz/B + pairs-per-block-pair).
    """
    base = with_word_shingles(
        spread(df.select(F.col(id_col).alias("_id"), text_col)), text_col, n
    )
    # Persist the UNEXPLODED (id, shingle-array) rows: Generate inlines
    # a computed generator expression, so exploding straight off the
    # regex projection re-evaluates the whole shingle extraction per
    # OUTPUT row (measured 10.6s vs 0.35s behind a materialization
    # barrier at sf1.0). The cache also serves both downstream
    # consumers (heavy-key count + per-doc array build). Released by
    # Spark's ContextCleaner when the caller drops the result.
    from pyspark import StorageLevel

    arr = base.select("_id", "_sh").persist(StorageLevel.MEMORY_AND_DISK)
    sh = arr.select("_id", F.explode("_sh").alias("_shs")).select(
        "_id", F.xxhash64("_shs").alias("_sh")
    )
    if df_cap is not None:
        sh = _drop_heavy_keys(sh, ["_sh"], df_cap)
    # one row per doc: post-cap size + hash array (the numpy cores
    # argsort the flattened hashes themselves, so no per-doc sort here)
    docs_arr = sh.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_sz"),
        F.collect_list("_sh").alias("_shl"),
    )
    if blocks is None:
        import math

        # B(B+1)/2 block-pair groups ~ 2x the session's reducer count:
        # enough groups that hash collisions over reducers don't leave
        # 2-3-group stragglers (measured: B=16 beats B=12 at 64
        # reducers, and small B is actively bad — B=8 was 4x slower).
        par = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        blocks = max(1, math.isqrt(4 * par))
    # A broadcast-corpus variant (collect + SparkContext.broadcast +
    # one task per block pair, zero shuffle) was built and MEASURED
    # SLOWER at both sf0.1 and sf1.0: the eager Arrow collect
    # serializes the shingle job and the python stage into separate
    # jobs, losing the overlap the single replicated-shuffle job gets.
    # The replicated shuffle stays the only path.
    blk = F.pmod(F.xxhash64("_id"), F.lit(blocks)).cast("int")
    # one SQL string: the block-pair id array as one JVM call
    bp_ids = F.expr(
        "array("
        + ", ".join(
            f"least(_blk, {j}) * {blocks} + greatest(_blk, {j})" for j in range(blocks)
        )
        + ")"
    )
    rep = (
        docs_arr.withColumn("_blk", blk)
        .withColumn("_bp", F.explode(bp_ids))
        .select("_bp", "_blk", "_id", "_sz", "_shl")
    )
    common = rep.groupBy("_bp").applyInPandas(
        _block_pair_fn(blocks, float(threshold)),
        "id_a long, id_b long, sz_a long, sz_b long, _common long",
    )
    jac = F.col("_common") / (F.col("sz_a") + F.col("sz_b") - F.col("_common"))
    return (
        common.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(shingles: DataFrame, num_perm: int = 64) -> DataFrame:
    """MinHash signature per document of a ``(_id, _sh)`` shingle-array
    frame: ``_sig``, the array of num_perm seeded xxhash64 minima
    (element i is min over shingles of xxhash64(shingle, i)).

    Shape chosen for scale: explode shingles once, then ONE grouped
    aggregate whose single output is ``array(min(xxhash64(_s, 0)), ...,
    min(xxhash64(_s, num_perm - 1)))`` — every hash/min runs inside
    whole-stage codegen with map-side partial aggregation, and the
    shuffle carries only (id, num_perm longs). The aggregate is built
    from one SQL string in one JVM call; num_perm aggregate Columns
    packed by a later select(array(...)) made thousands of py4j round
    trips for the same physical plan (the optimizer folds that select
    into the aggregate) and the same signatures. (A transform+array_min
    formulation keeps everything in one row but runs interpreted —
    higher-order functions don't codegen — and was ~100x slower on long
    documents.)
    """
    # not kept: numpy signatures via mapInArrow, minhash_lsh 2.87 s vs 1.65 s (Python stage alone 662 ms wall)
    sh = shingles.select("_id", F.explode("_sh").alias("_s"))
    mins = ", ".join(f"min(xxhash64(_s, {i}))" for i in range(num_perm))
    return sh.groupBy("_id").agg(F.expr(f"array({mins})").alias("_sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    shingle_n: int = 3,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify.

    rows-per-band r = num_perm/bands; candidate prob ≈ 1-(1-s^r)^bands.
    Candidates meet only inside (band, band_hash) buckets — the join
    key is a 64-bit hash, so skew is bounded by true duplicate clusters
    (AQE skew-join splits those).

    ``bucket_cap`` is the OOM backstop: a band bucket with more than
    bucket_cap members (a mega-cluster of exact copies, or a
    degenerate band) is excluded from candidate generation before its
    posting list is built. A cluster of f copies legitimately has
    f^2/2 pairs — at web scale you run exact_dedup first so f stays
    small; the cap bounds the damage when that invariant breaks.
    """
    assert num_perm % bands == 0
    r = num_perm // bands
    from pyspark import StorageLevel

    # persist the unexploded shingle arrays ONCE: the signature step
    # explodes them (exploding straight off the regex projection
    # re-evaluates the shingle extraction per OUTPUT row — Generate
    # inlines computed generator expressions; measured ~10x), and both
    # sides of the exact-verify join read them (released by the
    # ContextCleaner with the result)
    # not kept: skip_tiny=True on this spread, minhash_lsh 2.05 s vs 1.68 s
    docs = (
        with_word_shingles(
            spread(df.select(F.col(id_col).alias("_id"), text_col)),
            text_col,
            shingle_n,
        )
        .select("_id", "_sh")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sigs = minhash_signatures(docs, num_perm)

    # (band, hash of the band's r signature slots) per band, built from
    # one SQL string
    band_structs = ", ".join(
        f"struct({b} AS band, xxhash64("
        + ", ".join(f"_sig[{b * r + j}]" for j in range(r))
        + ") AS bhash)"
        for b in range(bands)
    )
    band_rows = sigs.select(
        "_id", F.explode(F.expr(f"array({band_structs})")).alias("_band")
    ).select("_id", "_band.band", "_band.bhash")

    # group-then-pair instead of a self-join: the signature subtree
    # (shingles + num_perm hash-min aggregate) is evaluated once, not
    # once per join side
    if bucket_cap is not None:
        # the guard consumes band_rows twice (heavy-key count + anti-
        # join); persist the compact (id, band, bhash) rows so the
        # signature aggregate isn't recomputed — production LSH builds
        # materialize the signature table as an index artifact anyway.
        # Lifecycle: the returned plan references this cache, and
        # Spark's ContextCleaner unpersists it once the caller drops
        # the result DataFrame — it is not pinned for the session.
        # kept: without this persist minhash_lsh took 1.76 s vs 1.68 s, 14 jobs instead of 12
        band_rows = band_rows.persist(StorageLevel.MEMORY_AND_DISK)
        band_rows = _drop_heavy_keys(band_rows, ["band", "bhash"], bucket_cap)
    posting = band_rows.groupBy("band", "bhash").agg(
        F.collect_list("_id").alias("_ids")
    ).filter(F.size("_ids") > 1)
    candidates = (
        posting.select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode("_ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )

    # exact verify on the candidate set only
    verified = (
        candidates.join(docs.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a")), "id_a")
        .join(docs.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_sh_a", "_sh_b"))
            / F.size(F.array_union("_sh_a", "_sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def simhash(
    df: DataFrame, id_col: str, text_col: str, hash_mode: str = "xxhash"
) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    Explode words once; per bit, sum +1/-1 by that bit of the word
    hash; sign -> fingerprint bit. 64 conditional sums in ONE grouped
    aggregate — a single shuffle keyed by doc id.

    hash_mode selects the per-word 64-bit hash:
    * "xxhash" (prod default): seeded xxhash64 — fastest, JVM-native.
    * "md5": the first 16 hex chars of md5(word) read as 4 little-
      endian 16-bit chunks (bit i := chunk[i//16] >> (i%16) & 1).
      Same bit quality, but computable bit-for-bit in DuckDB too, so
      the driver's SQL oracle can recompute the full fingerprint
      (see ``__spark_entry__.oracle_sql``).
    """
    # materialization barrier before the explode: Generate inlines the
    # computed split(normalize(...)) array, re-running the regex
    # normalization per OUTPUT word otherwise (measured ~10x at sf1.0)
    from pyspark import StorageLevel

    words_arr = (
        spread(df.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", F.split(normalize_text(F.col(text_col)), " ").alias("_wl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    words = words_arr.select("_id", F.explode("_wl").alias("_w"))
    # the bit sums and the fingerprint are each built from one SQL
    # string: one JVM call, not one per sub-expression
    if hash_mode == "md5":
        words = words.withColumn("_hx", F.md5("_w"))
        chunk = [f"CAST(conv(substring(_hx, {1 + 4 * c}, 4), 16, 10) AS INT)" for c in range(4)]
        bit = lambda i: f"(shiftright({chunk[i // 16]}, {i % 16}) & 1)"
    else:
        words = words.withColumn("_h", F.xxhash64("_w", F.lit(42)))
        bit = lambda i: f"(shiftright(_h, {i}) & 1)"

    bit_sums = [
        F.expr(f"sum(CASE WHEN {bit(i)} = 1 THEN 1 ELSE -1 END) AS _b{i}") for i in range(64)
    ]
    agg = words.groupBy("_id").agg(*bit_sums)

    # bit 63 is the int64 sign bit: its literal folds to -2^63
    bit_val = lambda i: str(1 << i) if i < 63 else "-9223372036854775807 - 1"
    fp = " + ".join(
        ["CAST(0 AS BIGINT)"]
        + [
            f"CASE WHEN _b{i} > 0 THEN CAST({bit_val(i)} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            for i in range(64)
        ]
    )
    return agg.select(F.col("_id").alias(id_col), F.expr(fp).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Blocking: split the 64-bit fingerprint into 4 chunks of 16 bits;
    any pair within Hamming 3 shares at least one exact chunk
    (pigeonhole), so candidates come from 4 cheap equi-joins, never a
    cross join.
    """
    fps = simhash(df, id_col, text_col)
    chunks = fps.select(
        F.col(id_col).alias("_id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("cval"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("_c"),
    ).select("_id", "simhash", "_c.chunk", "_c.cval")

    a = chunks.select(F.col("_id").alias("id_a"), F.col("simhash").alias("fp_a"), "chunk", "cval")
    b = chunks.select(F.col("_id").alias("id_b"), F.col("simhash").alias("fp_b"), "chunk", "cval")
    cands = (
        a.join(b, ["chunk", "cval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs -> (node, cluster_id).

    The step a training pipeline runs AFTER pair generation: transitive
    closure groups duplicates into clusters so one canonical survivor
    can be kept per cluster (``cluster_id`` = the lexicographic min of
    all reachable ids, the usual deterministic canonical choice).

    Algorithm: min-label propagation over the symmetrized edge list —
    each round every node takes the min of its own label and its
    neighbors' labels; converges in graph-diameter rounds. Near-dup
    clusters are shallow (diameter rarely exceeds a handful of hops),
    so the loop is short; each round is one shuffle of the edge list
    keyed by node. At web scale the same loop holds because the edge
    list is bucket-join output (bounded by the LSH/DF caps upstream),
    not all-pairs; for adversarially long chains swap in the
    alternating large-star/small-star variant (Kiveris et al.), which
    converges in O(log n) rounds over the identical join shape.
    Raises after ``max_iter`` non-converged rounds rather than
    returning a partial closure.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.persist()

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    try:
        for _ in range(max_iter):
            nbr_min = (
                edges.join(labels, edges["src"] == labels["node"])
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min("label").alias("_nbr"))
            )
            new_labels = (
                labels.join(nbr_min, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce("_nbr", "label")
                    ).alias("label"),
                )
                .persist()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels.unpersist()
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
    except BaseException:
        labels.unpersist()
        raise
    finally:
        edges.unpersist()
    # the returned plan still reads the final labels cache; it is
    # released by Spark's ContextCleaner once the caller drops the
    # DataFrame (or explicitly via .unpersist()), so nothing is pinned
    # for the session lifetime
    return labels.select("node", F.col("label").alias("cluster_id"))


def dedup_cluster_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Per-document cluster assignment + canonical-survivor flag.

    Documents absent from every pair are their own singleton cluster.
    ``is_canonical`` marks the one row per cluster a dedup pass keeps
    (the cluster-min id — deterministic, no tie-breaking RNG).
    The join against ``docs`` is broadcast-safe only when the pair set
    is small; at scale it is an equi-join on the id, which AQE plans
    as a shuffled hash join — one shuffle of the doc-id column, never
    of the payload (select the id before joining, as the contract
    query does).
    """
    cc = connected_components(pairs, id_a, id_b)
    out = docs.join(
        cc, docs[id_col] == cc["node"], "left"
    ).select(
        docs[id_col],
        F.coalesce("cluster_id", docs[id_col]).alias("cluster_id"),
    )
    return out.withColumn(
        "is_canonical", F.col(id_col) == F.col("cluster_id")
    )
