"""Deduplication operators for training-data pipelines over `documents`.

Five families, each scale-shaped so no step is O(n²) over the corpus:

- exact            : hash-groupBy on a content fingerprint (one shuffle)
- minhash + LSH    : shingle → minhash signature → band buckets →
                     candidate pairs only within buckets
- simhash          : 64-bit weighted hash; near-dups = equal hash prefix
                     buckets + hamming check inside buckets
- n-gram Jaccard   : exact Jaccard, but only over LSH candidate pairs
- embedding cosine : near-dups over `embeddings` via bucketed cosine

Everything is JVM built-ins (xxhash64, higher-order array functions,
bitwise aggs); no Python UDFs.  The LSH band join is the classic
(Broder 1997; MMDS ch.3) construction.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ton_etl_spark.functions.text import fingerprint, words

# deterministic per-permutation seeds for minhash
_MERSENNE = (1 << 61) - 1

# XXH64 constants (public spec; identical to Spark's catalyst XXH64)
_XXP1, _XXP2, _XXP3, _XXP4, _XXP5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5,
)


def _xxh64_bytes_vec(flat, starts, lens, seed: int):
    """Vectorized XXH64 over n variable-length byte strings stored in one
    flat uint8 buffer (``starts``/``lens`` in bytes) — bit-identical to
    Spark's catalyst ``XXH64.hashUnsafeBytes(..., seed)`` (32-byte stripe
    accumulators, 8-byte chunks, 4-byte chunk, byte tail, avalanche).
    Strings are gathered into a zero-padded (n, Lpad) matrix; callers
    split pathological length outliers into their own call so one long
    string cannot inflate the whole matrix."""
    import numpy as np

    U = np.uint64
    P1, P2, P3, P4, P5 = (U(_XXP1), U(_XXP2), U(_XXP3), U(_XXP4), U(_XXP5))

    def rotl(x, r):
        r = U(r)
        return (x << r) | (x >> (U(64) - r))

    def fmix(h):
        h = h ^ (h >> U(33)); h = h * P2
        h = h ^ (h >> U(29)); h = h * P3
        return h ^ (h >> U(32))

    n = len(lens)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    lens = lens.astype(np.int64)
    maxlen = int(lens.max())
    if maxlen > 512 and n > 1:
        # split off the long tail so its pad width is paid only by it
        longm = lens > 512
        out = np.empty(n, dtype=np.uint64)
        for m in (longm, ~longm):
            if m.any():
                out[m] = _xxh64_bytes_vec(flat, starts[m], lens[m], seed)
        return out
    Lpad = max(8, ((maxlen + 7) // 8) * 8)
    mat = np.zeros((n, Lpad), dtype=np.uint8)
    if int(lens.sum()):
        row = np.repeat(np.arange(n), lens)
        col = np.arange(len(row)) - np.repeat(np.cumsum(lens) - lens, lens)
        mat[row, col] = flat[np.repeat(starts, lens) + col]
    w64 = mat.view("<u8")
    w32 = mat.view("<u4")
    seed = U(seed & (2**64 - 1))
    big = lens >= 32
    it = np.where(big, lens // 32, 0).astype(np.int64)
    v1 = np.full(n, seed + P1 + P2, dtype=np.uint64)
    v2 = np.full(n, seed + P2, dtype=np.uint64)
    v3 = np.full(n, seed, dtype=np.uint64)
    v4 = np.full(n, seed - P1, dtype=np.uint64)
    for s in range(int(it.max())):
        act = it > s
        b4 = s * 4
        v1 = np.where(act, rotl(v1 + w64[:, b4 + 0] * P2, 31) * P1, v1)
        v2 = np.where(act, rotl(v2 + w64[:, b4 + 1] * P2, 31) * P1, v2)
        v3 = np.where(act, rotl(v3 + w64[:, b4 + 2] * P2, 31) * P1, v3)
        v4 = np.where(act, rotl(v4 + w64[:, b4 + 3] * P2, 31) * P1, v4)
    merged = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
    for v in (v1, v2, v3, v4):
        merged = (merged ^ (rotl(v * P2, 31) * P1)) * P1 + P4
    h = np.where(big, merged, seed + P5) + lens.astype(np.uint64)
    rows = np.arange(n)
    consumed_w = it * 4
    n8 = (lens - it * 32) // 8
    for j in range(int(n8.max())):
        act = n8 > j
        k1 = w64[rows, np.minimum(consumed_w + j, Lpad // 8 - 1)]
        h = np.where(act, rotl(h ^ (rotl(k1 * P2, 31) * P1), 27) * P1 + P4, h)
    off4 = it * 32 + n8 * 8
    has4 = (lens - off4) >= 4
    k4 = w32[rows, np.minimum(off4 // 4, Lpad // 4 - 1)].astype(np.uint64)
    h = np.where(has4, rotl(h ^ (k4 * P1), 23) * P2 + P3, h)
    offb = off4 + np.where(has4, 4, 0)
    ntail = lens - offb
    for t in range(int(ntail.max())):
        act = ntail > t
        b = mat[rows, np.minimum(offb + t, Lpad - 1)].astype(np.uint64)
        h = np.where(act, rotl(h ^ (b * P5), 11) * P1, h)
    return fmix(h)


def _minhash_sig_kernel(
    n_hashes: int, k_shingle: int, seed: int, id_name: str, min_words: int = 0
):
    """mapInArrow kernel computing full minhash signatures from the words
    array: vectorized shingle-string construction (Arrow
    ``binary_join_element_wise`` over k shifted zero-copy slices of the
    flat words buffer, whole-doc join for docs shorter than k words),
    bit-exact vectorized XXH64 of the shingle bytes (``_xxh64_bytes_vec``
    — Spark's ``xxhash64(s, lit(seed))`` chains hashBytes then hashInt),
    the n_hashes permutation re-hashes, and per-document minima via
    ``minimum.reduceat``.  Replaces the round-7 JVM pipeline (interpreted
    sequence/slice/array_join per position + a 32-wide aggregate fold)
    whose generated code also dominated the query's one-shot compile time
    (guide §4.2).  Two deliberate equivalences: per-doc shingle
    DE-DUPLICATION is skipped — duplicate shingles hash equal and cannot
    change a minimum — and NULL/empty words arrays yield a NULL sig, as
    before.  Locked by a bit-equality test against the inline JVM form.

    ``min_words > 0`` drops rows with fewer words INSIDE the kernel
    (NULL counts as 0) — equivalent to the JVM pre-filter
    ``where(size(words(text)) >= min_words)`` but free: a filter
    expression on ``words(text)`` is pushed below the staged projection
    and the balance exchange by Catalyst, re-running the tokenizer regex
    serially in the narrow scan stage (measured ~1 s at the 50k-doc
    scale); the kernel already holds the word counts."""
    import numpy as np

    u64 = np.uint64
    lit_is_int = -(2**31) <= seed < 2**31

    def _rotl(x, r):
        return (x << u64(r)) | (x >> u64(64 - r))

    def _fmix(h):
        h = h ^ (h >> u64(33)); h = h * u64(_XXP2)
        h = h ^ (h >> u64(29)); h = h * u64(_XXP3)
        return h ^ (h >> u64(32))

    def _lit_chain(inner):
        """xxhash64(s, lit(seed)): hashInt/hashLong of the literal with the
        string hash as running seed."""
        if lit_is_int:
            h = inner + u64(_XXP5) + u64(4)
            h = h ^ (u64((seed & 0xFFFFFFFF) * _XXP1 & (2**64 - 1)))
            return _fmix(_rotl(h, 23) * u64(_XXP2) + u64(_XXP3))
        h = inner + u64(_XXP5) + u64(8)  # pragma: no cover - long literals
        k1 = _rotl(u64(seed & (2**64 - 1)) * u64(_XXP2), 31) * u64(_XXP1)
        return _fmix(_rotl(h ^ k1, 27) * u64(_XXP1) + u64(_XXP4))

    def _str_arr_np(arr):
        """(flat uint8, starts, lens) views of a pyarrow StringArray."""
        import numpy as np
        import pyarrow as pa

        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        buf_off = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
            arr.offset: arr.offset + len(arr) + 1
        ].astype(np.int64)
        data = (
            np.frombuffer(arr.buffers()[2], dtype=np.uint8)
            if arr.buffers()[2] is not None
            else np.empty(0, dtype=np.uint8)
        )
        return data, buf_off[:-1], np.diff(buf_off)

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        ks = np.array(
            [(((seed + i) & 0xFFFFFFFF) * _XXP1) & (2**64 - 1) for i in range(n_hashes)]
            if all(-(2**31) <= seed + i < 2**31 for i in range(n_hashes))
            else [
                int(_rotl(u64((seed + i) & (2**64 - 1)) * u64(_XXP2), 31) * u64(_XXP1))
                for i in range(n_hashes)
            ],
            dtype=np.uint64,
        )
        perm_is_int = all(-(2**31) <= seed + i < 2**31 for i in range(n_hashes))
        rot, pa_, pb_ = (23, _XXP2, _XXP3) if perm_is_int else (27, _XXP1, _XXP4)
        with np.errstate(over="ignore"):
            for b in batches:
                ids = b.column(b.schema.get_field_index(id_name))
                wcol = b.column(b.schema.get_field_index("__ws"))
                if isinstance(wcol, pa.ChunkedArray):  # pragma: no cover
                    wcol = wcol.combine_chunks()
                nrows = len(wcol)
                lens_w = pc.fill_null(pc.list_value_length(wcol), 0).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64)
                if min_words > 0:
                    keep = lens_w >= min_words
                    if not keep.all():
                        kmask = pa.array(keep)
                        ids = ids.filter(kmask)
                        wcol = wcol.filter(kmask)
                        lens_w = lens_w[keep]
                        nrows = len(wcol)
                long_rows = lens_w >= k_shingle
                short_rows = (lens_w > 0) & ~long_rows
                pos = long_rows | short_rows
                # ---- shingle hashes for docs with >= k words ------------
                flatw = wcol.flatten()
                N = len(flatw)
                h_long = np.empty(0, dtype=np.uint64)
                seg_counts = lens_w[long_rows] - (k_shingle - 1)
                if N >= k_shingle and seg_counts.size:
                    ncand = N - (k_shingle - 1)
                    parts = [flatw.slice(j, ncand) for j in range(k_shingle)]
                    cands = pc.binary_join_element_wise(*parts, " ")
                    # candidate j is real iff it does not cross a doc
                    # boundary: its in-doc position <= n_d - k
                    docidx = np.repeat(np.arange(nrows), lens_w)[:ncand]
                    off0 = np.concatenate(([0], np.cumsum(lens_w)))[:-1]
                    in_doc = np.arange(ncand) - off0[docidx]
                    valid = in_doc <= (lens_w[docidx] - k_shingle)
                    good = cands.filter(pa.array(valid))
                    data, starts, blens = _str_arr_np(good)
                    h_long = _xxh64_bytes_vec(data, starts, blens, 42)
                # ---- whole-doc shingle for 0 < n < k docs ---------------
                h_short = np.empty(0, dtype=np.uint64)
                if short_rows.any():
                    whole = pc.binary_join(
                        wcol.filter(pa.array(short_rows)), " "
                    )
                    data, starts, blens = _str_arr_np(whole)
                    h_short = _xxh64_bytes_vec(data, starts, blens, 42)
                # ---- base = xxhash64(s, lit(seed)) ----------------------
                base_long = _lit_chain(h_long)
                base_short = _lit_chain(h_short)
                # ---- permutations + per-doc minima ----------------------
                n_pos = int(pos.sum())
                minima = np.empty((n_pos, n_hashes), dtype=np.int64)
                # row order within `pos`: interleave long/short by original
                # row position
                pos_idx = np.nonzero(pos)[0]
                is_long_at = long_rows[pos_idx]
                if base_long.size:
                    starts_l = np.concatenate(
                        ([0], np.cumsum(seg_counts)[:-1])
                    )
                    # inner = hashLong(base, 42) per shingle-hash
                    hh = u64(42) + u64(_XXP5) + u64(8)
                    k1 = _rotl(base_long * u64(_XXP2), 31) * u64(_XXP1)
                    inner_l = _fmix(_rotl(hh ^ k1, 27) * u64(_XXP1) + u64(_XXP4))
                    pb = inner_l + u64(_XXP5) + (u64(4) if perm_is_int else u64(8))
                if base_short.size:
                    hh = u64(42) + u64(_XXP5) + u64(8)
                    k1 = _rotl(base_short * u64(_XXP2), 31) * u64(_XXP1)
                    inner_s = _fmix(_rotl(hh ^ k1, 27) * u64(_XXP1) + u64(_XXP4))
                    sb = inner_s + u64(_XXP5) + (u64(4) if perm_is_int else u64(8))
                for i in range(n_hashes):
                    if base_long.size:
                        perm = _fmix(
                            _rotl(pb ^ ks[i], rot) * u64(pa_) + u64(pb_)
                        ).view(np.int64)
                        minima[is_long_at, i] = np.minimum.reduceat(perm, starts_l)
                    if base_short.size:
                        perm_s = _fmix(
                            _rotl(sb ^ ks[i], rot) * u64(pa_) + u64(pb_)
                        ).view(np.int64)
                        minima[~is_long_at, i] = perm_s
                sizes = np.where(pos, n_hashes, 0)
                offsets = np.zeros(nrows + 1, dtype=np.int32)
                np.cumsum(sizes, out=offsets[1:])
                sig = pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()),
                    pa.array(minima.reshape(-1), type=pa.int64()),
                    mask=pa.array(~pos),
                )
                yield pa.RecordBatch.from_arrays([ids, sig], names=[id_name, "sig"])

    return kernel


# Bounded registry of persisted signature DataFrames: the band self-join and
# pair verification reuse the signatures, so they must be cached for the
# duration of ONE pairs computation — but the consumer is lazy, so the
# operator cannot know when to unpersist.  Capping the registry makes
# repeated calls in a long-lived session a bounded cost (oldest entries are
# unpersisted) instead of an unbounded storage-memory leak.
_PERSISTED_SIGS: list[DataFrame] = []
_PERSISTED_SIGS_MAX = 2
_PERSISTED_SIGS_LOCK = threading.Lock()


def _persist_scoped(df: DataFrame) -> DataFrame:
    with _PERSISTED_SIGS_LOCK:
        # Spark's CacheManager dedups persisted plans by canonicalized
        # form, so two registry entries with the SAME plan share ONE cache
        # entry — evicting the older handle would un-cache the newer one
        # mid-flight (measured: a 30x pathological re-run when the third
        # identical call evicted the first).  Dedup here on semantics so a
        # repeated call reuses the live handle instead of re-registering.
        for cached in _PERSISTED_SIGS:
            try:
                if cached.sameSemantics(df):
                    return cached
            except Exception:  # pragma: no cover - defensive
                break
        df = df.persist()
        _PERSISTED_SIGS.append(df)
        evict = []
        while len(_PERSISTED_SIGS) > _PERSISTED_SIGS_MAX:
            evict.append(_PERSISTED_SIGS.pop(0))
    for old in evict:
        old.unpersist()
    return df


def _widen_if_narrow(df: DataFrame) -> DataFrame:
    """Repartition when the scan yields fewer partitions than the cluster's
    parallelism.  The hashing passes below are CPU-bound and embarrassingly
    parallel, but a small corpus arriving as one parquet file plans as ONE
    task (measured 4× on the sf0.1 documents table).  At 100 TB the source
    has thousands of file splits, the condition is false, and no extra
    shuffle is paid."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _local_input_bytes(df: DataFrame) -> int:
    """Total size of a frame's local input files, or -1 when unknown
    (non-local scheme, no file source).  Cheap: the file listing is
    already cached by the scan relation."""
    import os as _os

    try:
        files = df.inputFiles()
        if not files:
            return -1
        total = 0
        for f in files:
            if not f.startswith("file:"):
                return -1
            total += _os.path.getsize(f[5:])
        return total
    except Exception:  # pragma: no cover - defensive
        return -1


def _widen_min_bytes() -> int:
    """Balance pays off for a CHEAP per-row pass only above this input size
    (A/B: md5 dedup at 0.6 MB is 0.25 s unwidened vs 0.42 s widened — the
    exchange dominates; at 6 MB it is 1.06 s vs 0.5 s — the serial scan
    dominates).  Heavy kernels (minhash/embedding) widen unconditionally.
    ``SPARK_GRAFT_WIDEN_MIN_BYTES`` overrides the 4 MiB default; it is read
    per call, so a process can change it between queries."""
    import os as _os

    return int(_os.environ.get("SPARK_GRAFT_WIDEN_MIN_BYTES", 4 << 20))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents: fingerprint →
    representative = min id, plus group size.  One hash-agg shuffle."""
    # size-gated balance: one md5 per row is cheap, so the exchange is
    # only worth paying when the serial one-row-group scan carries enough
    # bytes (see _widen_min_bytes A/B)
    src = docs.select(F.col(id_col), F.col(text_col))
    b = _local_input_bytes(docs)
    if b >= _widen_min_bytes():
        src = _widen_if_narrow(src)
    fp = fingerprint(F.col(text_col))
    return (
        src.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
        )
    )


def drop_oversized_groups(df: DataFrame, group_cols: list[str], cap: int) -> DataFrame:
    """Degenerate-bucket guard shared by the LSH families: drop every group
    larger than ``cap`` (mass points — identical short docs, failed-encode
    embeddings — would go quadratic in the downstream self-join; their
    members are better routed to exact dedup).  The count+semi-join shares
    the self-join's partitioning on ``group_cols``, so Catalyst reuses the
    exchange rather than adding one."""
    small = df.groupBy(*group_cols).count().where(F.col("count") <= cap).select(*group_cols)
    return df.join(small, group_cols, "left_semi")


def segment_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 3,
    min_docfreq: int = 3,
) -> DataFrame:
    """CCNet-style line-level dedup, generalized to word segments: chop
    each document into consecutive non-overlapping ``seg_words``-word
    segments, count in how many DISTINCT documents each segment occurs
    corpus-wide, strip every segment occurring in ``>= min_docfreq``
    documents (boilerplate — navboxes, licenses, templated headers), and
    re-assemble the surviving segments in document order.

    Output: (id, n_segs, n_kept, clean_text) per non-empty document.

    Scale shape (round-8 optimization, guide §2.3/§2.4): the doc-frequency
    count explodes the PER-DOC-DISTINCT segments and uses a plain
    ``count`` — partially aggregated map-side — instead of shuffling every
    (id, seg) instance into a ``count_distinct`` (identical value: each
    doc contributes each distinct segment exactly once).  The banned set
    (``docfreq >= min_docfreq``) is small in *kind* (Zipf: boilerplate is
    rare in kind, common in volume), so the mark-join broadcasts under
    AQE; banned instances are dropped BEFORE the re-assembly groupBy, so
    the ``collect_list`` shuffle carries only surviving segments (0.07% of
    instances at the bench shape) instead of the whole corpus, and the
    per-doc spine (id, n_segs) — computable from the word count alone —
    re-attaches empty documents with a broadcast left join.  The words
    and segments arrays are staged as real columns so the split/
    segment-build expressions run once per row.  No reference analog;
    first-class training-data operator per the task brief (the
    reference's closest shape is its message-body normalization before
    insert, parser/parsers/msgs.py).
    """
    ws = F.col("__ws")
    n_seg = F.ceil(F.size(ws) / F.lit(seg_words)).cast("int")
    segs_arr = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(F.slice(ws, i * seg_words + 1, seg_words), " "),
    )
    # deliberately NOT balanced: an A/B of the exact_dedup-style gated
    # widen measured no win at any scale (0.41-0.51 s vs 0.49-0.59 s at
    # the 10x shape) — the split/segment build is light next to the
    # docfreq explode, and the extra exchange only adds cost
    base = (
        docs.where(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(
            F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__ws")
        )
        .select("id", ws, segs_arr.alias("__segs"))
    )
    banned = (
        base.select(F.explode(F.array_distinct(F.col("__segs"))).alias("seg"))
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("docfreq"))
        .where(F.col("docfreq") >= min_docfreq)
        .select("seg", F.lit(True).alias("__banned"))
    )
    segs = base.select("id", F.posexplode(F.col("__segs")).alias("seg_idx", "seg"))
    kept = (
        segs.join(banned, "seg", "left")
        .where(F.col("__banned").isNull())
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("seg_idx"), F.col("seg")))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    spine = base.select("id", F.size(F.col("__segs")).cast("long").alias("n_segs"))
    return spine.join(kept, "id", "left").select(
        "id",
        "n_segs",
        F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def shingles_of_words(ws: Column, k: int = 3) -> Column:
    """k-word shingles from an ALREADY-TOKENIZED words array (see
    ``shingles``).  Callers that stage the words array as a real column
    pay the tokenizer regex once per row; inlining ``words(text)`` here
    would clone the regex into every one of the four references below
    (measured as 4x the tokenizer cost per row in the round-7 plan)."""
    n = F.size(ws)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))
    return (
        F.when(
            n >= k,
            F.array_distinct(
                F.transform(idx, lambda i: F.array_join(F.slice(ws, i, k), " "))
            ),
        )
        .when(n > 0, F.array(F.array_join(ws, " ")))
        .otherwise(F.lit(None).cast("array<string>"))
    )


def shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles as strings.  Docs shorter than k words contribute one
    whole-text shingle; NULL/empty text yields a NULL array (NOT ``[NULL]``
    — ``array_join(NULL)`` inside ``F.array`` would produce a 1-element
    array whose constant hash makes every degenerate doc collide with every
    other downstream)."""
    return shingles_of_words(words(text), k)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    k_shingle: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<long>) — sig[i] = min over shingles of the i-th
    permutation hash.  Round-8 optimization (guide §4.2): the tokenizer
    regex stays a single JVM projection, and EVERYTHING downstream —
    shingle-string construction, the base string hash, the n_hashes
    permutation re-hashes, the per-document minima — runs in one
    vectorized Arrow/numpy kernel (`_minhash_sig_kernel`) that reproduces
    Spark's ``xxhash64`` bit-for-bit.  The previous JVM pipeline
    (interpreted sequence/slice/array_join per shingle position plus a
    32-wide aggregate/zip_with fold) was both the slowest stage and, via
    its generated code size, most of the query's one-shot compile time.
    A NULL/empty words array yields ``sig = NULL`` (a shared sentinel sig
    would make every shingle-less doc band-collide with every other)."""
    staged = docs.select(F.col(id_col), words(F.col(text_col)).alias("__ws"))
    return _minhash_signatures_of_words(staged, id_col, n_hashes, k_shingle, seed)


def _minhash_signatures_of_words(
    staged: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 32,
    k_shingle: int = 3,
    seed: int = 42,
    min_words: int = 0,
) -> DataFrame:
    """``minhash_signatures`` over an ALREADY-TOKENIZED (id, __ws) frame —
    callers that also need a min-length filter pass ``min_words`` so the
    tokenizer regex runs once per row and the filter is a vectorized mask
    inside the kernel (see ``_minhash_sig_kernel``)."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(id_col, staged.schema[id_col].dataType),
            StructField("sig", ArrayType(LongType()), True),
        ]
    )
    return staged.mapInArrow(
        _minhash_sig_kernel(n_hashes, k_shingle, seed, id_col, min_words), out_schema
    )


def band_entries_of(
    sigs: DataFrame, id_col: str = "doc_id", n_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """Slim (id, band, bhash) LSH entries from a signature table — the
    join currency of every minhash path (self-join, persisted index,
    incremental probe).  NULL sigs (shingle-less docs) are excluded: their
    band hashes would all be equal and bucket-collide."""
    rows_per_band = n_hashes // bands
    return sigs.where(F.col("sig").isNotNull()).select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at(F.col("sig"), b * rows_per_band + 1 + r)
                                for r in range(rows_per_band)
                            ]
                        ).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(F.col(id_col), F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"))


def _jaccard_estimate(sig_a: Column, sig_b: Column, n_hashes: int) -> Column:
    """Signature agreement rate — the minhash Jaccard estimator."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m))
    return agree.cast("double") / F.lit(float(n_hashes))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    seed: int = 42,
    min_jaccard_est: float = 0.5,
    min_words: int | None = None,
    max_bucket_size: int | None = None,
    return_sigs: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Candidate near-dup pairs (a < b) whose estimated Jaccard (signature
    agreement rate) >= threshold.

    Scale shape: explode to (band, band_hash) keys — rows = n_docs × bands —
    then self-join *within band buckets only*. Identical-band groups are the
    only quadratic zone and are bounded by true near-dup cluster size —
    PROVIDED degenerate docs don't all collapse into one bucket.  Two guards:

    - ``min_words`` (default: ``k_shingle``): docs too short to form a real
      k-shingle are excluded up front.  Their "shingle set" is the whole
      text, so near-dup == exact-dup for them — ``exact_dedup`` already
      covers that class, and a web corpus full of empty/boilerplate
      one-liners would otherwise put millions of rows in identical buckets
      (O(n²) self-join on exactly the junk).
    - ``max_bucket_size`` (default off): additionally drop band buckets
      larger than the cap (pairs inside a monster bucket are overwhelmingly
      true duplicates of one another — cheaper to route that cluster to
      exact dedup than to enumerate its n² pairs).  The count+semi-join
      shares the self-join's (band, bhash) partitioning, so Catalyst
      reuses the exchange rather than adding a shuffle.

    Signature caching: the sigs DataFrame is persisted through a BOUNDED
    module registry (newest two kept; older entries unpersisted).  Eviction
    affects CACHE HITS only, never correctness — an unpersisted DataFrame
    recomputes its lineage.  Callers that want to release the cache
    immediately after consuming the pairs pass ``return_sigs=True`` and get
    ``(pairs, sigs)`` so they can ``sigs.unpersist()`` themselves (an
    explicit handle, not an attribute stapled to the DataFrame — attributes
    are lost on the first ``select``/``filter``).  Changed in round 3: the
    old undocumented ``pairs._minhash_sigs`` attribute handle was REMOVED
    in favor of this tuple return — update any caller that used it.
    """
    if min_words is None:
        min_words = k_shingle
    # Widen FIRST, tokenize ONCE (round-8): the min-length filter used to
    # run ``words(text)`` inside the narrow scan stage — ~1 s of serial
    # regex on a one-row-group file — and the signature stage re-ran the
    # regex after the widen.  The tokenizer is now one projection above
    # the balance exchange, and the min-length filter is a vectorized
    # mask inside the signature kernel (a JVM filter on ``words(text)``
    # would be pushed back below the exchange by Catalyst, recreating
    # both problems).  Same rows, bit-identical sigs.
    staged = _widen_if_narrow(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), words(F.col(text_col)).alias("__ws")
    )
    sigs = _minhash_signatures_of_words(
        staged, id_col, n_hashes, k_shingle, seed, min_words=min_words
    )
    # The signatures are reused three times (both sides of the band
    # self-join via ReusedExchange, plus the pair verification below);
    # persist so shingling+hashing runs once per doc.  The cache lives in a
    # bounded module registry (_persist_scoped) so repeated calls cannot
    # leak storage memory; the newest TWO stay hot.
    sigs = _persist_scoped(sigs)
    # band entries carry ONLY (id, band, bhash) — the 256-byte sig arrays
    # stay out of the self-join shuffle; candidate pairs join back to the
    # slim sigs table afterwards (near-dup candidates are sparse).
    band_entries = band_entries_of(sigs, id_col, n_hashes, bands)

    if max_bucket_size is not None:
        band_entries = drop_oversized_groups(band_entries, ["band", "bhash"], max_bucket_size)

    a = band_entries.alias("a")
    b = band_entries.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    )
    sig_a = sigs.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    verified = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    est = _jaccard_estimate(F.col("sig_a"), F.col("sig_b"), n_hashes)
    # dedup AFTER the threshold filter (round-8, guide §2.4): a pair
    # band-collides in up to ``bands`` tables, but the estimate is a pure
    # function of the pair, so deduping the sparse SURVIVORS is equivalent
    # to deduping every candidate — and one exchange over the candidate
    # set disappears (the ≤bands-fold duplicate verify work is bounded and
    # map-side, the removed shuffle was not)
    out = (
        verified.select("id_a", "id_b", est.alias("jaccard_est"))
        .where(F.col("jaccard_est") >= min_jaccard_est)
        .dropDuplicates(["id_a", "id_b"])
    )
    if return_sigs:
        return out, sigs
    return out


def simhash_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """64-bit simhash per document: sign-sum of word-hash bits (Charikar
    2002).  Single pass over the word hashes: one ``aggregate`` folds each
    hash's 64 bits into a running count vector (``zip_with`` add), then 64
    O(1) ``element_at`` majority votes assemble the fingerprint.  Replaces
    the previous 64-scans-of-the-array form — measured 4× faster at sf0.1
    (1.2 s vs 4.7 s for 5k docs) with identical outputs."""
    docs = _widen_if_narrow(docs.select(F.col(id_col), F.col(text_col)))
    # word hashes staged once (round-8): the previous form inlined the
    # tokenize+distinct+hash pipeline into both the fold and ``size`` —
    # two regex/hash passes per row
    hashed = docs.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(words(F.col(text_col))),
            lambda w: F.xxhash64(w, F.lit(seed)),
        ).alias("__h"),
    )
    hashes = F.col("__h")

    def bits_of(h):
        return F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda b: F.call_function("shiftright", h, b).bitwiseAND(F.lit(1)).cast("int"),
        )

    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(acc, bits_of(h), lambda a, c: a + c),
    )
    staged = hashed.select(
        F.col(id_col), counts.alias("__c"), F.size(hashes).alias("__n")
    )
    # bit b of simhash = 1 if (# words with bit b set) > n_words/2
    sim = F.lit(0).cast("long")
    for b in range(64):
        bit = (F.element_at(F.col("__c"), b + 1) * 2 > F.col("__n")).cast("long")
        sim = sim + F.shiftleft(bit, b)
    return staged.select(F.col(id_col), sim.alias("simhash"))


def simhash_chunk_bounds(max_hamming: int) -> list[tuple[int, int]]:
    """(shift, width) of each blocking chunk for a given hamming radius.

    Pigeonhole: a pair differing in at most ``max_hamming`` bits cannot
    differ in every one of ``max_hamming + 1`` disjoint chunks, so blocking
    on each chunk guarantees 100% recall at that radius.  The 64 bits are
    split as evenly as possible (e.g. h=8 → 9 chunks of 7-8 bits)."""
    n_chunks = max_hamming + 1
    if not 1 <= n_chunks <= 64:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    base, extra = divmod(64, n_chunks)
    bounds = []
    shift = 0
    for c in range(n_chunks):
        width = base + (1 if c < extra else 0)
        bounds.append((shift, width))
        shift += width
    return bounds


def simhash_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 42,
    fingerprints: DataFrame | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by simhash: block on each of ``max_hamming + 1``
    disjoint bit-chunks (pigeonhole: any pair within the hamming radius
    agrees on ≥1 chunk — full recall at the requested radius, unlike a
    fixed 4-chunk scheme which silently drops hamming-4+ pairs), verify
    exact hamming inside blocks.

    Radius↔scale tradeoff: chunk width is ``64/(h+1)`` bits, so the number
    of distinct block keys per chunk is ``2^width`` — at h=3 (Manku et
    al.'s classic setting) that is 65k buckets/chunk; at h=8 only ~256,
    which degenerates toward all-pairs on a large corpus.  Keep h small
    for corpus-scale blocking, pass ``max_bucket_size`` to drop monster
    buckets (bounded work, documented recall loss on exactly those
    clusters — exact-dup territory anyway), or use the minhash
    candidates-then-verify path for wider radii.

    ``fingerprints``: optionally inject a precomputed (id, simhash)
    DataFrame instead of hashing ``docs`` — used by tests to drive the
    blocking with adversarial bit patterns at exactly the radius bound."""
    fps = (
        fingerprints
        if fingerprints is not None
        else simhash_fingerprints(docs, id_col, text_col, seed)
    )
    chunks = fps.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), shift)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("ckey"),
                    )
                    for c, (shift, width) in enumerate(simhash_chunk_bounds(max_hamming))
                ]
            )
        ).alias("ck"),
    ).select(F.col(id_col), "simhash", F.col("ck.chunk").alias("chunk"), F.col("ck.ckey").alias("ckey"))
    if max_bucket_size is not None:
        chunks = drop_oversized_groups(chunks, ["chunk", "ckey"], max_bucket_size)
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    min_jaccard: float = 0.5,
    n_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """EXACT n-gram Jaccard over LSH candidate pairs: LSH prunes the pair
    space, then true Jaccard is computed on the shingle sets of survivors
    only (the standard candidates-then-verify shape)."""
    cands = minhash_lsh_pairs(
        docs, id_col, text_col, n_hashes, bands, k_shingle, seed, min_jaccard_est=0.0
    ).select("id_a", "id_b")
    # tokenizer staged once (round-8): ``shingles(text)`` clones the regex
    # into each of its four references (see shingles_of_words)
    sh = (
        _widen_if_narrow(docs.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), words(F.col(text_col)).alias("__ws"))
        .select(F.col(id_col), shingles_of_words(F.col("__ws"), k_shingle).alias("sh"))
    )
    j = (
        cands.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    jac = (inter.cast("double") / union.cast("double")).alias("jaccard")
    return j.select("id_a", "id_b", jac).where(F.col("jaccard") >= min_jaccard)


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (Schleimer, Wilkerson
    & Aiken 2003 — the MOSS sketch): hash every character k-gram of the
    normalized text, keep the MINIMUM hash of each sliding window of
    ``window`` consecutive k-gram hashes, output the distinct selected
    hashes.  Guarantee: two documents sharing any substring of length
    ≥ k + window - 1 share at least one fingerprint.

    All JVM array expressions (substr/xxhash64/slice/array_min) in one
    narrow pass — the sketch is ~|doc|/window hashes, the local/content-
    addressable analog of the whole-doc md5 in ``functions.text.fingerprint``.
    Returns (id, fps: array<long>).
    """
    norm = F.array_join(words(F.col(text_col)), " ")
    # k-grams via a CHAR ARRAY, not substr-by-position: UTF8String.substring
    # scans from the string start (variable-width encoding), making the
    # obvious substr(i, k) formulation O(|doc|²) per document — measured
    # minutes-vs-seconds at sf0.01.  Array slice is O(k) per position.
    staged = _widen_if_narrow(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.split(norm, "").alias("__c")
    )
    c = F.col("__c")
    n_grams = F.greatest(F.size(c) - (k - 1), F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.xxhash64(F.array_join(F.slice(c, i, k), ""), F.lit(seed)),
    )
    with_grams = staged.select(F.col(id_col), grams.alias("__g"))
    g = F.col("__g")
    n_windows = F.greatest(F.size(g) - (window - 1), F.lit(1))
    fps = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice(g, j, window)),
        )
    )
    return with_grams.select(F.col(id_col), fps.alias("fps"))


def winnow_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 4,
    seed: int = 42,
    min_shared: int = 2,
    max_posting_size: int | None = 1000,
) -> DataFrame:
    """Local-overlap pairs via the winnowing inverted index: explode
    fingerprints to (fp → id) postings, self-join WITHIN postings only
    (slim (id, fp) keys — the sketches stay out of the shuffle), count
    shared fingerprints per pair.  Catches documents sharing long verbatim
    passages even when global similarity (Jaccard/cosine) is low — the
    contained-plagiarism case MinHash misses.

    ``max_posting_size`` drops ubiquitous fingerprints (boilerplate
    n-grams shared by everything) before the self-join — same degenerate-
    bucket guard as the LSH families."""
    sketches = winnow_fingerprints(docs, id_col, text_col, k, window, seed)
    # materialize before explode: Generate re-evaluates its child expression
    # per OUTPUT row, so exploding the raw sketch expression would recompute
    # the whole O(|doc|·k) gram pipeline ~|sketch| times per doc (measured
    # minutes-vs-seconds at sf0.01).  Bounded registry, as for minhash sigs.
    sketches = _persist_scoped(sketches)
    postings = sketches.select(F.col(id_col), F.explode("fps").alias("fp"))
    if max_posting_size is not None:
        postings = drop_oversized_groups(postings, ["fp"], max_posting_size)
    a, b = postings.alias("a"), postings.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def embedding_near_dups(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding near-dups: multi-table random-hyperplane LSH (sign sketch)
    → exact cosine only on candidates sharing ≥1 table bucket.

    ``dim`` is REQUIRED — the hyperplanes must match the vector length
    (a row whose vector is NULL or of a different length cannot be
    bucketed and is excluded, the same exclusion the old ``zip_with``
    null-padding produced).

    The multi-table construction is the cosine analog of minhash banding:
    per-plane agreement probability is 1 - θ/π, so one k-plane table finds
    a cosine-0.95 pair with prob ~0.43 (k=8) but 8 independent tables lift
    recall to ~0.99.

    Round-8 optimization (guide §4.2/§2.3): bucketing and the exact-cosine
    verification are vectorized numpy kernels instead of interpreted JVM
    higher-order folds, and verification happens INSIDE each (tbl, bucket)
    group — the candidate pairs never materialize as a JVM self-join, so
    the per-pair shuffle (15.8M rows at sf1.0) and its dropDuplicates
    exchange disappear; only the ~2% surviving pairs are deduplicated
    across tables.  Bit-equivalence with the old JVM fold (and with the
    DuckDB oracle) is preserved by accumulating dot products and norms in
    float64 SEQUENTIALLY over the dimension axis — the exact IEEE754
    operation order of ``aggregate(zip_with(...))`` — and by replicating
    Spark's NaN-is-largest comparison semantics (a NaN cosine passes the
    threshold, a NaN plane-dot sets the sign bit).

    ``max_bucket_size`` is the same degenerate-bucket guard as minhash's:
    buckets above the cap are dropped BEFORE the group shuffle (count +
    semi-join sharing the (tbl, bucket) partitioning), and the group
    kernel short-circuits oversized groups before touching their vectors.
    Default off: the pinned oracle queries reproduce the uncapped sketch.
    Per-group work is O(m²·dim) vectorized with O(chunk·m) memory — the
    inherent cost of the uncapped semantics; the capped twin is the
    production operating point.
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

    from ton_etl_spark.operators.similarity import _hyperplanes

    # (n_tables, n_planes, dim) float64 — identical constants to the old
    # JVM literals and the DuckDB oracle (repr round-trips IEEE754 exactly)
    planes = np.stack(
        [
            np.array(_hyperplanes(dim, n_planes, seed + 7919 * t), dtype=np.float64)
            for t in range(n_tables)
        ]
    )

    # balance the narrow scan (guide §2.5): a one-row-group embeddings
    # file plans as ONE task, serializing the bucketing kernel; the
    # exchange moves only (id, vec) and is a no-op at cluster scale
    src = _widen_if_narrow(emb.select(F.col(id_col), F.col(vec_col)))
    id_field = src.schema[id_col]
    vec_field = src.schema[vec_col]
    entries_schema = StructType(
        [
            StructField(id_col, id_field.dataType),
            StructField("tbl", IntegerType()),
            StructField("bucket", LongType()),
            StructField(vec_col, vec_field.dataType),
        ]
    )

    def bucket_kernel(batches):
        import numpy as _np
        import pandas as _pd

        shifts = _np.arange(n_planes, dtype=_np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            cells = pdf[vec_col].to_numpy()
            ok = _np.array(
                [v is not None and len(v) == dim for v in cells], dtype=bool
            )
            if not ok.any():
                continue
            ids = pdf[id_col].to_numpy()[ok]
            keep = [c for c, k in zip(cells, ok) if k]
            vecs = _np.stack([_np.asarray(c, dtype=_np.float64) for c in keep])
            frames = []
            for t in range(n_tables):
                # sequential-d accumulation == the JVM fold's IEEE754 order
                acc = _np.zeros((len(vecs), n_planes))
                for d in range(dim):
                    acc += vecs[:, d: d + 1] * planes[t, :, d][None, :]
                # Spark comparison semantics: NaN >= 0 is TRUE
                bits = (acc >= 0) | _np.isnan(acc)
                bucket = (bits.astype(_np.int64) << shifts[None, :]).sum(axis=1)
                frames.append(
                    _pd.DataFrame(
                        {
                            id_col: ids,
                            "tbl": _np.full(len(ids), t, dtype=_np.int32),
                            "bucket": bucket,
                            vec_col: keep,
                        }
                    )
                )
            yield _pd.concat(frames, ignore_index=True)

    entries = src.mapInPandas(bucket_kernel, entries_schema)
    if max_bucket_size is not None:
        entries = drop_oversized_groups(entries, ["tbl", "bucket"], max_bucket_size)

    out_schema = StructType(
        [
            StructField("id_a", id_field.dataType),
            StructField("id_b", id_field.dataType),
            StructField("cosine", DoubleType()),
        ]
    )

    def verify_group(pdf):
        import numpy as _np
        import pandas as _pd

        m = len(pdf)
        empty = _pd.DataFrame(
            {
                "id_a": pdf[id_col].iloc[:0],
                "id_b": pdf[id_col].iloc[:0],
                "cosine": _pd.Series([], dtype="float64"),
            }
        )
        if m < 2 or (max_bucket_size is not None and m > max_bucket_size):
            return empty
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        vecs = _np.stack(
            [_np.asarray(c, dtype=_np.float64) for c in pdf[vec_col].to_numpy()]
        )
        # norms once per vector (the fold computed them per pair, but the
        # value is a pure function of the vector): acc + v*v, sequential
        nrm2 = _np.zeros(m)
        for d in range(dim):
            nrm2 += vecs[:, d] * vecs[:, d]
        nrm = _np.sqrt(nrm2)
        out_a, out_b, out_c = [], [], []
        # row-chunked pairwise dots: memory O(chunk·m), never O(m²)
        chunk = max(1, 2_000_000 // m)
        for s in range(0, m, chunk):
            e = min(s + chunk, m)
            dot = _np.zeros((e - s, m))
            for d in range(dim):
                dot += vecs[s:e, d: d + 1] * vecs[:, d][None, :]
            with _np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / (nrm[s:e, None] * nrm[None, :])
            # strict upper triangle on the id-sorted order == id_a < id_b;
            # Spark semantics again: a NaN cosine passes the threshold
            tri = _np.arange(m)[None, :] > _np.arange(s, e)[:, None]
            tri &= ids[None, :] != ids[s:e, None]
            mask = tri & ((cos >= min_cosine) | _np.isnan(cos))
            ai, bj = _np.nonzero(mask)
            out_a.append(ids[s + ai])
            out_b.append(ids[bj])
            out_c.append(cos[ai, bj])
        if not out_a:
            return empty
        return _pd.DataFrame(
            {
                "id_a": _np.concatenate(out_a),
                "id_b": _np.concatenate(out_b),
                "cosine": _np.concatenate(out_c),
            }
        )

    pairs = entries.groupBy("tbl", "bucket").applyInPandas(verify_group, out_schema)
    # a true near-dup collides in several tables; the cosine is a pure
    # function of the pair, so whichever row survives is identical
    return pairs.dropDuplicates(["id_a", "id_b"])


# --------------------------------------------------------------------------
# Incremental dedup: a persisted minhash band index.  At 100 TB the corpus
# does not get re-signed per arriving batch — signatures and band entries
# are materialized ONCE (same pattern as similarity.write_lsh_index /
# write_ivf_index for ANN), and each new batch probes them: the new side is
# small, so Spark broadcasts it and the stored index streams through the
# join without being shuffled or re-sketched.
def write_minhash_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 3,
    seed: int = 42,
    min_words: int | None = None,
    meta_updates: dict | None = None,
) -> None:
    """Materialize the corpus's minhash index under ``path``: band entries
    (parquet, partitioned by band), signatures (for the Jaccard-estimate
    verify), and the sketch params as sidecar metadata so probes can never
    diverge from the build.  The sidecar is written LAST and probes
    require it, so a crash mid-build leaves an index that fails loudly
    rather than probing partial data.  On a REBUILD over an existing index
    the old sidecar is retracted FIRST: a crash between the sigs and
    entries overwrites must make probes fail loudly, not let a stale
    sidecar validate mismatched halves (write-then-publish, the LakeTable
    commit discipline)."""
    import os as _os

    from ton_etl_spark.operators.similarity import (
        invalidate_sidecar,
        publish_sidecar,
    )

    invalidate_sidecar(path, "_minhash_meta.json")
    if min_words is None:
        min_words = k_shingle
    # tokenize once above the balance exchange; min_words filters inside
    # the kernel (same fusion as minhash_lsh_pairs — a JVM filter on
    # words(text) is pushed below the exchange and re-runs the regex)
    staged = _widen_if_narrow(docs.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), words(F.col(text_col)).alias("__ws")
    )
    # plain persist + unpersist, NOT the bounded registry: both consumers
    # are the eager writes below, so the cache has no reason to outlive
    # this function (and must not evict a live lazy sigs computation)
    sigs = _minhash_signatures_of_words(
        staged, id_col, n_hashes, k_shingle, seed, min_words=min_words
    ).persist()
    try:
        sigs.where(F.col("sig").isNotNull()).write.mode("overwrite").parquet(
            _os.path.join(path, "sigs")
        )
        band_entries_of(sigs, id_col, n_hashes, bands).write.mode(
            "overwrite"
        ).partitionBy("band").parquet(_os.path.join(path, "entries"))
    finally:
        sigs.unpersist()
    meta = {
        "id_col": id_col, "text_col": text_col, "n_hashes": n_hashes,
        "bands": bands, "k_shingle": k_shingle, "seed": seed,
        "min_words": min_words,
    }
    # extra caller metadata (e.g. the curation stream's epoch cursor) rides
    # the SAME atomic publish — two sequential sidecar writes would leave a
    # crash window where the data is new but the cursor is stale
    meta.update(meta_updates or {})
    publish_sidecar(path, "_minhash_meta.json", meta)


def append_to_minhash_index(
    new_docs: DataFrame, path: str, meta_updates: dict | None = None
) -> dict:
    """Grow an existing minhash index by one ingested batch — the
    daily-ingest path that makes the index INCREMENTAL instead of
    build-once: the batch is signed with the index's own sidecar params
    (exactly like a probe, so the index can never hold mixed sketches) and
    its sigs + band entries are APPENDED as new parquet files; the corpus
    is never re-read or re-sketched.

    Crash contract (sidecar-last, versioned): the sidecar is retracted
    before the data appends and re-published last with ``appends`` bumped,
    so a crash between the sigs and entries appends leaves an index that
    fails loudly on probe instead of silently over- or under-matching;
    recovery is a fresh ``write_minhash_index`` over the full corpus.
    Caller contract: append each document once — appending a doc_id twice
    leaves duplicate entries (probes still dedup pairs, but the sig join
    returns duplicate rows for that id).

    Returns {"appended": n_signed_rows, "appends": total_append_count}."""
    import json as _json
    import os as _os

    from ton_etl_spark.operators.similarity import (
        invalidate_sidecar,
        publish_sidecar,
    )

    with open(_os.path.join(path, "_minhash_meta.json")) as fh:
        m = _json.load(fh)
    staged = new_docs.select(
        F.col(m["id_col"]), words(F.col(m["text_col"])).alias("__ws")
    )
    invalidate_sidecar(path, "_minhash_meta.json")
    sigs = _minhash_signatures_of_words(
        staged, m["id_col"], m["n_hashes"], m["k_shingle"], m["seed"],
        min_words=m["min_words"],
    ).persist()
    try:
        live = sigs.where(F.col("sig").isNotNull())
        n = live.count()
        live.write.mode("append").parquet(_os.path.join(path, "sigs"))
        band_entries_of(sigs, m["id_col"], m["n_hashes"], m["bands"]).write.mode(
            "append"
        ).partitionBy("band").parquet(_os.path.join(path, "entries"))
    finally:
        sigs.unpersist()
    m["appends"] = int(m.get("appends", 0)) + 1
    m.update(meta_updates or {})  # same atomic publish as the build path
    publish_sidecar(path, "_minhash_meta.json", m)
    return {"appended": n, "appends": m["appends"]}


def probe_minhash_index(
    spark,
    path: str,
    new_docs: DataFrame,
    min_jaccard_est: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs between ``new_docs`` and the INDEXED corpus:
    (new_id, index_id, jaccard_est).  The new batch is signed with the
    index's own sketch params (read from the sidecar — a caller cannot
    mis-probe), its slim band entries are broadcast, and the stored
    entries stream through the join: no shuffle of the index, no corpus
    re-sketch.  New-vs-new pairs within the batch are the caller's
    ``minhash_lsh_pairs`` on the batch itself."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_minhash_meta.json")) as fh:
        m = _json.load(fh)
    id_col, text_col = m["id_col"], m["text_col"]
    new_sigs = _persist_scoped(
        _minhash_signatures_of_words(
            new_docs.select(F.col(id_col), words(F.col(text_col)).alias("__ws")),
            id_col, m["n_hashes"], m["k_shingle"], m["seed"],
            min_words=m["min_words"],
        )
    )
    new_entries = band_entries_of(new_sigs, id_col, m["n_hashes"], m["bands"])
    # explicit schemas (the probe side is sketched with the index's own
    # params, so its shape IS the stored shape): a legitimately EMPTY index
    # — e.g. the curation stream's very first batch probing a corpus of
    # zero documents — has no parquet files under the partitioned entries
    # dir, and schema inference would fail where "no candidates" is the
    # correct answer
    stored_entries = spark.read.schema(new_entries.schema).parquet(
        _os.path.join(path, "entries")
    )
    if max_bucket_size is not None:
        stored_entries = drop_oversized_groups(
            stored_entries, ["band", "bhash"], max_bucket_size
        )
    cand = (
        stored_entries.alias("ix")
        .join(
            F.broadcast(new_entries.alias("nw")),
            (F.col("ix.band") == F.col("nw.band"))
            & (F.col("ix.bhash") == F.col("nw.bhash"))
            & (F.col(f"ix.{id_col}") != F.col(f"nw.{id_col}")),
        )
        .select(
            F.col(f"nw.{id_col}").alias("new_id"),
            F.col(f"ix.{id_col}").alias("index_id"),
        )
        .dropDuplicates(["new_id", "index_id"])
    )
    stored_sigs = spark.read.schema(new_sigs.schema).parquet(
        _os.path.join(path, "sigs")
    ).select(
        F.col(id_col).alias("index_id"), F.col("sig").alias("sig_ix")
    )
    new_side = new_sigs.select(F.col(id_col).alias("new_id"), F.col("sig").alias("sig_new"))
    est = _jaccard_estimate(F.col("sig_new"), F.col("sig_ix"), m["n_hashes"])
    # broadcast the SPARSE side (candidates + new sigs) so the stored sig
    # table streams — shuffling (or driver-collecting) the corpus's wide
    # sig arrays per probe is exactly what the persisted index avoids
    sparse = F.broadcast(cand.join(F.broadcast(new_side), "new_id"))
    return (
        stored_sigs.join(sparse, "index_id")
        .select("new_id", "index_id", est.alias("jaccard_est"))
        .where(F.col("jaccard_est") >= min_jaccard_est)
    )


def probe_lsh_near_dups(
    spark,
    path: str,
    new_emb: DataFrame,
    min_cosine: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dups between ``new_emb`` and a corpus indexed with
    ``similarity.write_lsh_index``: (new_id, index_id, cosine) — the
    embedding-modality twin of ``probe_minhash_index``.  The new batch is
    sketched with the INDEX's sidecar params (same hyperplane construction
    as ``embedding_near_dups``: seed + 7919·t per table), its slim
    (id, tbl, bucket, vec) rows are broadcast, and the stored index
    streams through the join — no index shuffle, no corpus re-sketch.
    Exact double-math cosine verifies candidates inline (the index rows
    already carry their vectors)."""
    from ton_etl_spark.operators.similarity import (
        _cosine,
        read_lsh_index,
        with_lsh_buckets,
    )

    idx, m = read_lsh_index(spark, path)
    tbl_col, bucket_col = m["tbl_col"], m["bucket_col"]
    # fail loudly on a dim mismatch (model swap): zip_with would null-pad,
    # every bucket would be NULL, and the probe would silently find nothing
    # — the exact hazard embedding_near_dups requires `dim` to prevent
    bad = new_emb.where(F.size(F.col(vec_col)) != m["dim"]).limit(1).count()
    if bad:
        raise ValueError(
            f"probe vectors do not match the index dim={m['dim']} "
            f"(found a row with a different {vec_col} length)"
        )
    new_b = with_lsh_buckets(
        new_emb.select(F.col(id_col), F.col(vec_col)),
        m["dim"], m["n_planes"], m["seed"], m["n_tables"], vec_col,
        tbl_col, bucket_col,
    ).select(
        F.col(id_col).alias("new_id"),
        F.col(vec_col).cast("array<double>").alias("__vnew"),
        F.col(tbl_col), F.col(bucket_col),
    )
    ix_id = m.get("id_col", id_col)  # sidecar wins; pre-id_col sidecars fall back
    # dedup (pair, table) collisions BEFORE the O(dim) cosine — a true
    # near-dup collides in most of the L tables by construction, and the
    # vectors are functionally dependent on the ids so the surviving row
    # is identical whichever table it came from
    cand = (
        idx.select(
            F.col(ix_id).alias("index_id"),
            F.col(m["vec_col"]).cast("array<double>").alias("__vix"),
            F.col(tbl_col), F.col(bucket_col),
        )
        .join(F.broadcast(new_b), [tbl_col, bucket_col])
        .where(F.col("index_id") != F.col("new_id"))
        .dropDuplicates(["new_id", "index_id"])
        .select(
            "new_id", "index_id",
            _cosine(F.col("__vnew"), F.col("__vix")).alias("cosine"),
        )
        .where(F.col("cosine") >= min_cosine)
    )
    return cand
