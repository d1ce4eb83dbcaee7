"""Deduplication operators for training-data curation (graded first-class
alongside SURVEY.md §2): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale notes (the 100 TB framing):
- exact dedup is a hash groupBy on a fingerprint — one shuffle, no payloads;
- MinHash+LSH: signing is embarrassingly parallel (one Arrow UDF per row,
  no shuffle); candidate generation buckets signatures by (band, band key)
  so the join is an equi-join, never O(n²);
- SimHash: 64-bit fingerprint; near-dup = small Hamming distance within
  bucketed prefixes;
- n-gram Jaccard is the exact verifier applied only to LSH candidates;
- connected components turns verified near-dup PAIRS into duplicate
  CLUSTERS (min-id labels) so keep-one-per-cluster policies have a stable
  deterministic key — min-label propagation with path halving, O(log
  diameter) rounds of equi-joins.
"""

from __future__ import annotations

import hashlib
import struct
from itertools import repeat

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

# Mersenne prime 2^31−1: after reducing the 64-bit shingle hash mod P, the
# affine permutation (a·h+b) stays ≤ ~2^37 — no int64 overflow under ANSI mode
MERSENNE_P = (1 << 31) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct text (md5 fingerprint, smallest id wins) —
    `row_number() over (partition by fingerprint order by id)` semantics,
    deterministic and oracle-checkable."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def shingle_expr(text_col: str, n: int = 3):
    """Character n-gram shingles via SQL transform (works pre-Spark-4 lambda
    quirks); returns array<string> of distinct lowercase n-grams.

    The lowered text is bound ONCE per row through an outer single-element
    ``transform`` lambda: higher-order-function lambdas are interpreted (no
    codegen), so putting ``lower(text)`` inside the per-gram lambda made
    every gram re-lower the whole document — O(len²) interpreted work per
    row, measured as the dominant cost of the sf1 near-dup sweep (r6)."""
    return F.expr(
        f"transform(array(lower({text_col})), t ->"
        f" array_distinct(transform(sequence(1, greatest(length(t) - {n - 1}, 1)),"
        f" i -> substring(t, i, {n}))))[0]"
    )


def _gram_slices(t: str, n: int):
    """The python-side gram construction of ``jaccard_counts_udf``:
    codepoint slices ``t[i:i+n]`` over ``max(len(t)-n+1, 1)`` positions —
    exactly ``substring(t, i+1, n)`` over ``greatest(length(t)-(n-1), 1)``
    incl. the short-text clamp. The rounded Jaccard oracles rely on the UDF
    agreeing bit-for-bit with shingle_expr, so the clamp/slicing must never
    drift. The MinHash signer builds the same positions with array
    operations (``_sign_batch``); the signer's property test, whose
    reference loop slices with this function, keeps the two in step."""
    return (t[i : i + n] for i in range(max(len(t) - n + 1, 1)))


def jaccard_counts_udf(n: int = 3):
    """Intersection/union CARDINALITIES of the two texts' distinct
    ``n``-gram sets, as one Arrow-batched UDF over JVM-LOWERED text (pass
    ``F.lower(col)`` on both sides). Value-identical twin of

        size(array_intersect(sh(l), sh(r))), size(array_union(sh(l), sh(r)))

    with ``sh = shingle_expr(·, n)`` (which lowers in the JVM itself): the
    gram construction is the same codepoint slicing + short-text clamp
    (``_gram_slices``), set cardinality == the sizes of
    ``array_distinct``-based intersect/union (Spark treats NULL elements as
    equal, mirrored by ``None`` membership in Python sets), and the division
    + ``round`` stay in the JVM — so the rounded Jaccard is bit-identical
    by construction, not by a reimplemented rounding rule.

    Why: returning counts moves 8 bytes/row back across Arrow instead of
    both gram arrays (2-3x the text bytes), and drops the JVM
    array_intersect/array_union work on KB-scale arrays (r7, guide
    §2.3/§4.2). The pair UDF also shingles each doc once per ROLE, exactly
    like the two-column form it replaces."""

    @F.pandas_udf("struct<i: int, u: int>")
    def counts(left: pd.Series, right: pd.Series) -> pd.DataFrame:
        def gset(t):
            if t is None:
                return {None}
            return set(_gram_slices(t, n))

        inter, union = [], []
        for lt, rt in zip(left, right):
            a, b = gset(lt), gset(rt)
            inter.append(len(a & b))
            union.append(len(a | b))
        return pd.DataFrame({"i": inter, "u": union})

    return counts


def ngram_jaccard(df_pairs: DataFrame, left_text: str, right_text: str, n: int = 3) -> DataFrame:
    """Jaccard similarity of character n-gram shingle sets for pre-paired
    rows: |A∩B| / |A∪B|, all JVM array ops."""
    a = shingle_expr(left_text, n)
    b = shingle_expr(right_text, n)
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return df_pairs.withColumn("jaccard", F.round(inter / union, 4))


_XXH_SEED = 42  # Spark's xxhash64 seed; also its hash of NULL
_M64 = (1 << 64) - 1
_XP1, _XP2, _XP3, _XP4, _XP5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64(data: bytes) -> int:
    """XXH64 of ``data`` with seed 42 as a signed 64-bit int — bit-exact
    with Spark's ``xxhash64`` of a string (``XXH64.hashUnsafeBytes`` over
    its utf-8 bytes: 32-byte stripes, then 8-, 4- and 1-byte tails,
    little-endian word reads)."""
    n, i = len(data), 0
    if n >= 32:
        v = [
            (_XXH_SEED + _XP1 + _XP2) & _M64,
            (_XXH_SEED + _XP2) & _M64,
            _XXH_SEED,
            (_XXH_SEED - _XP1) & _M64,
        ]
        while i <= n - 32:
            for j, w in enumerate(struct.unpack_from("<4Q", data, i)):
                v[j] = _rotl64((v[j] + w * _XP2) & _M64, 31) * _XP1 & _M64
            i += 32
        h = (_rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12) + _rotl64(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ (_rotl64(x * _XP2 & _M64, 31) * _XP1 & _M64)) * _XP1 + _XP4) & _M64
    else:
        h = _XXH_SEED + _XP5
    h = (h + n) & _M64
    while i <= n - 8:
        (k,) = struct.unpack_from("<Q", data, i)
        h ^= _rotl64(k * _XP2 & _M64, 31) * _XP1 & _M64
        h = (_rotl64(h, 27) * _XP1 + _XP4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h ^= k * _XP1 & _M64
        h = (_rotl64(h, 23) * _XP2 + _XP3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _XP5 & _M64
        h = _rotl64(h, 11) * _XP1 & _M64
    h ^= h >> 33
    h = h * _XP2 & _M64
    h ^= h >> 29
    h = h * _XP3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


# Per-worker gram cache of the MinHash signer, keyed by (method, n_hashes):
# gram → row of one growing matrix holding that gram's per-gram hash work.
# Character n-grams repeat massively across documents (sf1: 50k docs hold
# 377 distinct 3-grams), so each distinct gram is hashed once per worker,
# not once per occurrence. Rows: md5 → the n_hashes (hi, lo) uint64 halves
# of md5('i:'||gram); xxhash64 → ONE int64, pmod(xxhash64(gram), P) — the
# permutations are applied per batch. Bounded by the cap, or one batch's
# distinct grams: a batch that could push the cache past _GRAM_CACHE_MAX
# rows first resets it to a fresh _GRAM_CACHE_ROWS matrix (recompute, never
# wrong; the grown storage is freed, not kept).
_GRAM_CACHE: dict[tuple, dict] = {}
_GRAM_CACHE_MAX = 262_144
_GRAM_CACHE_ROWS = 4096
# codepoints past U+10FFFF that fill a gram window past its text's end: the
# pad of a text shorter than n, and the one gram of a NULL text
_PAD, _NULL_CP = 0x110000, 0x110001


def _fresh_gram_cache(method: str, n_hashes: int) -> dict:
    if method == "md5":
        mat = np.empty((_GRAM_CACHE_ROWS, n_hashes, 2), dtype=np.uint64)
    else:
        mat = np.empty(_GRAM_CACHE_ROWS, dtype=np.int64)
    return {"idx": {}, "mat": mat, "n": 0}


def _gram_windows(texts: list, n: int):
    """The batch's gram positions, labelled: text i has ``max(len−n+1, 1)``
    positions, those of ``_gram_slices``. Returns (label of each position,
    first position of each text, each label's gram). Labels number the
    n-codepoint windows by first appearance, one ``factorize`` fold per
    codepoint; a text shorter than n pads its one window past its end with
    a sentinel, so its gram is the text itself, and a NULL text's window is
    all NULL sentinels, the NULL gram."""
    lens = np.array([0 if t is None else len(t) for t in texts], dtype=np.int64)
    s = "".join(t for t in texts if t is not None)
    # n codepoints past the end keep every window's gather in bounds
    cp = np.frombuffer((s + "\0" * n).encode("utf-32-le"), dtype=np.uint32)
    npos = np.maximum(lens - n + 1, 1)
    first = np.cumsum(npos) - npos
    at = np.arange(npos.sum()) + np.repeat(np.cumsum(lens) - lens - first, npos)  # each position's codepoint
    short = np.flatnonzero(lens < n)
    fill = np.array([_NULL_CP if texts[d] is None else _PAD for d in short.tolist()], dtype=np.uint32)
    lab = np.zeros(len(at), dtype=np.int64)
    for k in range(n):
        c = cp[at + k]
        past = lens[short] <= k
        c[first[short[past]]] = fill[past]
        lab *= _NULL_CP + 1
        lab += c
        lab = pd.factorize(lab)[0]
    seen = np.flatnonzero(np.diff(np.maximum.accumulate(lab), prepend=-1))  # each label's first position
    w = cp[at[seen, None] + np.arange(n)]  # each label's window, read as one n-character string
    grams = w.view(f"<U{n}").ravel().tolist()
    for u in np.flatnonzero(w[:, -1] == 0).tolist():  # numpy strips trailing U+0000
        grams[u] = s[at[seen[u]] : at[seen[u]] + n]
    for d in short.tolist():
        grams[lab[first[d]]] = texts[d]
    return lab, first, grams


def _sign_batch(lowered: pd.Series, n_hashes: int, shingle_n: int, method: str) -> pd.Series:
    """MinHash signatures of a batch of JVM-lowered texts by array
    operations over the batch's gram positions (``_gram_windows``): only
    the batch's distinct grams are looked up in the gram cache, and hashed
    when new, in Python; each text's minima are ``reduceat``s over its
    positions. NULL text → the one NULL gram of ``shingle_expr``.

    - md5: component i = min over grams of md5('i:'||gram) as lowercase hex
      — the lexicographic min of the hexdigests is the numeric (hi, lo)
      min: hi by ``reduceat``, then lo over the positions holding that hi;
    - xxhash64: component i = min over grams of (aᵢ·h + bᵢ) mod P with
      h = pmod(xxhash64(gram), P).

    Both equal Spark's own md5 / xxhash64 / pmod / min over ``shingle_expr``
    grams bit for bit; the input must be lowered in the JVM so the case
    mapping stays the SQL oracles'."""
    texts = lowered.tolist()
    if not texts:
        return pd.Series([], dtype=object)
    lab, first, grams = _gram_windows(texts, shingle_n)

    key = (method, n_hashes)
    st = _GRAM_CACHE.get(key) or _GRAM_CACHE.setdefault(key, _fresh_gram_cache(method, n_hashes))
    if st["n"] + len(grams) > _GRAM_CACHE_MAX:
        st = _GRAM_CACHE[key] = _fresh_gram_cache(method, n_hashes)
    idx = st["idx"]
    rows = np.fromiter(map(idx.get, grams, repeat(-1)), dtype=np.int64, count=len(grams))
    miss = np.flatnonzero(rows < 0)
    if len(miss):
        new = [grams[i] for i in miss.tolist()]
        r0, r1 = st["n"], st["n"] + len(new)
        while len(st["mat"]) < r1:
            st["mat"] = np.concatenate([st["mat"], np.empty_like(st["mat"])])
        if method == "md5":
            prefixes = [f"{i}:".encode() for i in range(n_hashes)]
            digests = b"".join(hashlib.md5(p + g.encode("utf-8")).digest() for g in new for p in prefixes)
            st["mat"][r0:r1] = np.frombuffer(digests, dtype=">u8").reshape(-1, n_hashes, 2)
        else:
            st["mat"][r0:r1] = [(_XXH_SEED if g is None else _xxh64(g.encode("utf-8"))) % MERSENNE_P for g in new]
        idx.update(zip(new, range(r0, r1)))
        st["n"] = r1
        rows[miss] = np.arange(r0, r1)

    m = st["mat"][rows]
    if method == "md5":
        maxu = np.uint64(0xFFFFFFFFFFFFFFFF)
        npos = np.diff(first, append=len(lab))
        hi_min = np.empty((len(texts), n_hashes), dtype=np.uint64)
        lo_min = np.empty_like(hi_min)
        for i in range(n_hashes):
            hi = m[:, i, 0][lab]
            hi_min[:, i] = np.minimum.reduceat(hi, first)
            lo = np.where(hi == np.repeat(hi_min[:, i], npos), m[:, i, 1][lab], maxu)
            lo_min[:, i] = np.minimum.reduceat(lo, first)
        out = [[f"{h:016x}{l:016x}" for h, l in zip(hr, lr)] for hr, lr in zip(hi_min.tolist(), lo_min.tolist())]
    else:
        sig = np.empty((len(texts), n_hashes), dtype=np.int64)
        for i in range(n_hashes):
            a_i, b_i = 2 * i + 1, (1442695040888963407 + i * 6364136223846793005) % MERSENNE_P
            v = m * a_i + b_i
            v -= v // MERSENNE_P * MERSENNE_P  # v % P (v ≥ 0): numpy divides by a scalar faster than it takes %
            sig[:, i] = np.minimum.reduceat(v[lab], first)
        out = sig.tolist()
    return pd.Series(out, dtype=object)


def _sign_rows(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int, shingle_n: int, method: str, *cols
) -> DataFrame:
    """(id, *cols, signature) in ONE projection over one Arrow UDF on
    ``lower(text)`` — no explode, no groupBy, no join. The NULL rule
    differs per flavour and is kept: md5 drops NULL-text rows; xxhash64
    signs them from the NULL gram (hash = the seed). Ids are assumed
    unique per row."""
    if method not in ("xxhash64", "md5"):
        raise ValueError(f"method must be 'xxhash64' or 'md5', got {method!r}")
    if shingle_n < 1:  # a NULL text's window is n sentinels, so n=0 would merge it with ""
        raise ValueError(f"shingle_n must be at least 1, got {shingle_n}")

    @F.pandas_udf("array<string>" if method == "md5" else "array<bigint>")
    def sig(lowered: pd.Series) -> pd.Series:
        return _sign_batch(lowered, n_hashes, shingle_n, method)

    if method == "md5":
        df = df.filter(F.col(text_col).isNotNull())
    return df.select(F.col(id_col), *cols, sig(F.lower(F.col(text_col))).alias("signature"))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    shingle_n: int = 3,
    method: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures (id, signature) over distinct character
    ``shingle_n``-grams. ``method`` picks only the per-gram hash:

    - ``xxhash64``: h = pmod(xxhash64(gram), P) through ``n_hashes`` affine
      permutations (aᵢ·h+bᵢ mod P, P = 2^31−1) → array<bigint>;
    - ``md5``: component i = min of md5('i:'||gram) → array<string>; min
      over VARCHAR is the same lexicographic order in Spark and DuckDB, so
      an oracle replays it exactly.

    Deterministic: permutation coefficients derive from the hash index."""
    return _sign_rows(df, text_col, id_col, n_hashes, shingle_n, method)


def band_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    carry_signature: bool = False,
) -> DataFrame:
    """Explode (id, signature) → narrow (id, band, bucket) LSH band rows,
    the one band-key expression of every LSH consumer. For band b the key
    is md5 of the '|'-joined stringified components b·rpb+1 .. (b+1)·rpb,
    rpb = size(signature) div bands read per row — both flavours (bigint
    arrays stringify first), replayable in DuckDB as md5(string_agg(comp,
    '|' ORDER BY i)). No lambda: the keys and their ``posexplode`` run
    under whole-stage codegen.

    ``carry_signature=True`` keeps the signature array on each band row
    (bands× payload duplication) — used by the shuffle-path verify so the
    candidate pair stream needs no signature-attach join at all."""
    rpb = F.expr(f"CAST(size(signature) DIV {bands} AS INT)")
    comps = F.col("signature").cast("array<string>")
    keys = F.array(*[F.md5(F.array_join(F.slice(comps, b * rpb + 1, rpb), "|")) for b in range(bands)])
    keep = ["signature"] if carry_signature else []
    return signatures.select(F.col(id_col), F.posexplode(keys).alias("band", "bucket"), *keep)


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """LSH banding: bucket each signature by (band, band key) through
    ``band_buckets``, self-join buckets → distinct candidate pairs (left id
    < right id). Equi-join only — the candidate step never goes quadratic
    in table size.

    Skew guards (web crawls are duplicate floods, so these matter at scale):
    identical signatures are collapsed to one representative before the
    banded self-join — B exact copies of a document contribute ONE row to
    every bucket instead of B (which would be B²/2 candidate rows in EVERY
    band) — and re-expand afterwards through output-sized equi-joins, so the
    candidate set is unchanged (recall 1 for the collapse). ``bucket_cap``
    additionally drops (band, bucket) groups holding more than that many
    DISTINCT signatures from candidate generation (broadcast anti-join, same
    guard as simsearch.cosine_pairs); pairs in a dropped bucket can still
    collide in other bands, so recall degrades gracefully instead of the
    shuffle exploding. None (default) disables the cap."""
    reps = signatures.groupBy("signature").agg(F.min(id_col).alias("_rep"))
    members = signatures.join(reps, on="signature").select(
        F.col(id_col).alias("_mid"), F.col("_rep")
    )
    b = band_buckets(reps, id_col="_rep", bands=bands)
    if bucket_cap is not None:
        hot = b.groupBy("band", "bucket").count().filter(F.col("count") > bucket_cap).select("band", "bucket")
        b = b.join(F.broadcast(hot), on=["band", "bucket"], how="left_anti")
    rep_pairs = (
        b.select("band", "bucket", F.col("_rep").alias("_lrep"))
        .join(b.select("band", "bucket", F.col("_rep").alias("_rrep")), on=["band", "bucket"])
        .filter(F.col("_lrep") < F.col("_rrep"))
        .select("_lrep", "_rrep")
        .distinct()
    )
    # re-expand: pairs across two signature groups + all pairs within a group
    cross = (
        rep_pairs.join(members.select(F.col("_rep").alias("_lrep"), F.col("_mid").alias("_lid")), on="_lrep")
        .join(members.select(F.col("_rep").alias("_rrep"), F.col("_mid").alias("_rid")), on="_rrep")
        .select(
            F.least(F.col("_lid"), F.col("_rid")).alias("left_id"),
            F.greatest(F.col("_lid"), F.col("_rid")).alias("right_id"),
        )
    )
    within = (
        members.select("_rep", F.col("_mid").alias("left_id"))
        .join(members.select("_rep", F.col("_mid").alias("right_id")), on="_rep")
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
    )
    return cross.unionByName(within).distinct()


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    n_hashes: int = 32,
    bands: int = 4,
    bucket_cap: int | None = None,
    method: str = "xxhash64",
    shingle_n: int = 3,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    exact n-gram-Jaccard verification ≥ threshold. ``bucket_cap`` bounds
    candidate generation under near-dup floods (see minhash_lsh_candidates).
    ``method`` picks the signature hash (see minhash_signatures);
    ``method='md5'`` makes every step SQL-replayable (the DuckDB-oracle
    flavor; xxhash64 stays the production default).

    ``shingle_n`` sets the character-shingle length for BOTH the signatures
    and the verify. Pick it against the corpus' background similarity: on
    ~400-char same-language documents the background 3-gram Jaccard between
    UNRELATED texts is ~0.19 (measured, data/sf1), which makes the banded
    candidate set quadratic in corpus size (~11M false candidates at 50k
    docs for 16/4/4 banding); 5-grams drop the background to ~0.06 and the
    false-candidate mass 100×. 3 stays the default for parity with the
    small-scale tests; web-scale corpora want 5+.

    The verify JOINS each document's shingle set (computed once per doc)
    onto the candidate pairs instead of re-shingling text per pair — a doc
    in k candidate pairs previously paid k interpreted O(len·grams)
    transforms, the measured sf1 hot spot."""
    sig = minhash_signatures(df, text_col, id_col, n_hashes, shingle_n, method)
    # the signing feeds the candidate generator's collapse/member/band
    # subtrees; materialize it once (the candidate step re-derives the
    # relation three times otherwise)
    sig = sig.localCheckpoint(eager=False)
    cand = minhash_lsh_candidates(sig, id_col, bands, bucket_cap=bucket_cap)
    grams = df.select(F.col(id_col), shingle_expr(text_col, shingle_n).alias("_grams"))
    pairs = (
        cand.join(
            grams.select(F.col(id_col).alias("left_id"), F.col("_grams").alias("_lg")),
            on="left_id",
        ).join(
            grams.select(F.col(id_col).alias("right_id"), F.col("_grams").alias("_rg")),
            on="right_id",
        )
    )
    inter = F.size(F.array_intersect("_lg", "_rg"))
    union = F.size(F.array_union("_lg", "_rg"))
    return (
        pairs.withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("left_id", "right_id", "jaccard")
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "left_id",
    dst_col: str = "right_id",
    max_iters: int = 25,
    check_every: int = 2,
) -> DataFrame:
    """Distributed connected components by min-label propagation with pointer
    shortcutting: each round every vertex takes the minimum of its own label
    and its neighbors' labels, then jumps to its label's label (path halving —
    convergence in O(log diameter) rounds instead of O(diameter)). Returns
    (id, cluster_id) where cluster_id = the component's minimum vertex id —
    deterministic, so duplicate CLUSTERS (not just pairs) are stable keys for
    keep-one-per-cluster policies.

    Scale shape: each round is two equi-joins + one groupBy min on (edge,
    label) relations — no vertex ever sees more than its neighborhood, and
    ``localCheckpoint`` truncates the growing lineage exactly like the kNN
    ring loop. At 100× scale every driver action is a full-job barrier, so
    the loop spends at most ONE action per ``check_every`` rounds: the
    convergence count and the (lazy) checkpoint materialization run in the
    same job, and in-between rounds run with no action at all — an extra
    round after convergence is idempotent, never wrong."""
    if check_every < 1:
        raise ValueError(f"check_every must be ≥ 1, got {check_every}")
    sym = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).unionByName(
        edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst"))
    )
    labels = vertices.select(F.col(id_col).alias("vid"), F.col(id_col).alias("label")).localCheckpoint(eager=True)
    for it in range(max_iters):
        nbr = (
            sym.join(labels, sym.src == labels.vid)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_min"))
        )
        stepped = labels.join(nbr, labels.vid == nbr.dst, "left").select(
            "vid", F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label")
        )
        # path halving: label := label(label)
        parent = stepped.select(F.col("vid").alias("pvid"), F.col("label").alias("plabel"))
        # LAZY checkpoint: the convergence count below is the job that
        # materializes it — one barrier for both, vs eager+take(1)'s two
        new = stepped.join(parent, stepped.label == parent.pvid, "left").select(
            "vid", F.coalesce("plabel", "label").alias("label")
        ).localCheckpoint(eager=False)
        if (it + 1) % check_every == 0 or it == max_iters - 1:
            n_changed = (
                new.alias("n")
                .join(labels.alias("o"), "vid")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new
            if n_changed == 0:
                break
        else:
            labels = new
    else:
        # returning partial labels would hand callers WRONG cluster ids with
        # no signal; with path halving max_iters=25 covers diameter ~2^25,
        # so exhaustion means a genuinely pathological graph — fail loudly
        raise RuntimeError(
            f"connected_components did not converge within max_iters={max_iters} rounds; "
            "raise max_iters (rounds needed ≈ log2(graph diameter))"
        )
    return labels.select(F.col("vid").alias(id_col), F.col("label").alias("cluster_id"))


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", method: str = "xxhash64") -> DataFrame:
    """64-bit SimHash over whitespace tokens: per bit, sum ±1 weighted by
    token hash bit, sign → bit. Explode + groupBy with 64 conditional sums,
    all JVM. ``method='md5'`` draws the 64 token-hash bits from two 32-bit
    halves of the token's md5 hex (conv(hex,16,10) — exactly replayable in
    DuckDB via ('0x'||substr(md5(tok),…))::BIGINT, the oracle flavor);
    xxhash64 stays the fast production default.

    COMPATIBILITY: since round 4 BOTH methods tokenize with ``tokens_ws``
    (single-space split, the engine-wide canonical tokenizer); earlier
    rounds split the xxhash64 flavor on ``\\s+``, so texts containing
    tabs/newlines/runs of spaces hash differently now. SimHash values
    persisted by a pre-round-4 build are NOT comparable with new output —
    re-sign the corpus rather than mixing vintages in one hamming join."""
    from dsm2dtm_spark.functions.text import tokens_ws

    # canonical single-space tokenization (tokens_ws) — same split as the
    # quality gate, decontam, and every DuckDB oracle
    toks = df.select(id_col, F.explode(tokens_ws(F.col(text_col))).alias("tok"))
    if method == "md5":
        toks = toks.withColumn(
            "h1", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        ).withColumn("h2", F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long"))
        def bit(i):
            col = F.col("h1") if i < 32 else F.col("h2")
            return F.shiftright(col, i % 32).bitwiseAND(F.lit(1))
    else:
        toks = toks.withColumn("h", F.xxhash64("tok"))
        def bit(i):
            return F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))
    sums = [
        F.sum(F.when(bit(i) == 1, 1).otherwise(-1)).alias(f"b{i}")
        for i in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*sums)
    bit_terms = None
    for i in range(64):
        val = (1 << i) if i < 63 else -(1 << 63)  # bit 63 = sign bit of int64
        term = F.when(F.col(f"b{i}") > 0, F.lit(val).cast("long")).otherwise(F.lit(0).cast("long"))
        bit_terms = term if bit_terms is None else bit_terms.bitwiseOR(term)
    return agg.select(id_col, bit_terms.alias("simhash"))


def hamming_near_dup_pairs(
    df: DataFrame,
    max_dist: int,
    id_col: str = "image_id",
    hash_col: str = "phash",
    n_bands: int = 4,
) -> DataFrame:
    """All id pairs whose 64-bit hashes differ in ≤ ``max_dist`` bits —
    EXACT, via pigeonhole banding: split each hash into ``n_bands`` equal
    bands; two hashes within Hamming distance d < n_bands must agree on at
    least one whole band (d flipped bits cannot touch all n_bands bands), so
    the banded equi-join's candidate set provably contains every qualifying
    pair. Verification is one JVM ``bit_count(xor)``. This is the standard
    near-dup image-dedup shape at corpus scale: one explode + one equi-join,
    never all-pairs, and unlike probabilistic LSH the recall is 1 by
    construction.

    Skew guard: the banded self-join runs over DISTINCT hash values only —
    a flood of B byte-identical images (the normal case in a web crawl)
    contributes ONE row per band instead of B rows that would meet each
    other B²/2 times in EVERY band. Qualifying hash pairs then re-expand to
    id pairs through output-sized equi-joins (within-group pairs at distance
    0, cross-group pairs at the verified distance), so the result set is
    unchanged and recall stays 1."""
    if not 0 <= max_dist < n_bands:
        raise ValueError(f"pigeonhole guarantee needs max_dist < n_bands, got {max_dist} ≥ {n_bands}")
    if 64 % n_bands:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    width = 64 // n_bands
    mask = (1 << width) - 1
    members = df.select(F.col(id_col).alias("_id"), F.col(hash_col).alias("_h"))
    distinct_h = members.select("_h").distinct()
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("_h"), i * width).bitwiseAND(F.lit(mask)).alias("key"),
            )
            for i in range(n_bands)
        ]
    )
    b = distinct_h.select("_h", F.explode(bands).alias("bb")).select("_h", "bb.band", "bb.key")
    hash_pairs = (
        b.select("band", "key", F.col("_h").alias("lh"))
        .join(b.select("band", "key", F.col("_h").alias("rh")), on=["band", "key"])
        .filter(F.col("lh") < F.col("rh"))
        .dropDuplicates(["lh", "rh"])
        .withColumn("hamming", F.bit_count(F.col("lh").bitwiseXOR(F.col("rh"))))
        .filter(F.col("hamming") <= max_dist)
    )
    cross = (
        hash_pairs.join(members.select(F.col("_h").alias("lh"), F.col("_id").alias("_lid")), on="lh")
        .join(members.select(F.col("_h").alias("rh"), F.col("_id").alias("_rid")), on="rh")
        .select(
            F.least(F.col("_lid"), F.col("_rid")).alias("left_id"),
            F.greatest(F.col("_lid"), F.col("_rid")).alias("right_id"),
            "hamming",
        )
    )
    within = (
        members.select("_h", F.col("_id").alias("left_id"))
        .join(members.select("_h", F.col("_id").alias("right_id")), on="_h")
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id", F.lit(0).cast("int").alias("hamming"))
    )
    return cross.unionByName(within)


def passage_window_hashes_expr(text_col: str, window: int, stride: int):
    """array<string> of md5 hashes over SLIDING TOKEN WINDOWS (``window``
    tokens every ``stride``): the passage-level fingerprint. Spans start at
    token 1, 1+stride, … while a full window fits; texts shorter than one
    window yield an empty array. Single-space tokenization (tokens_ws) so
    DuckDB replays the hashes verbatim."""
    from dsm2dtm_spark.functions.text import tokens_ws

    toks = tokens_ws(F.col(text_col))
    n_spans = F.floor((F.size(toks) - window) / stride) + 1
    spans = F.transform(
        F.sequence(F.lit(0), n_spans.cast("int") - 1),
        lambda i: F.md5(F.array_join(F.slice(toks, i * stride + 1, window), " ")),
    )
    return F.when(F.size(toks) >= window, spans).otherwise(F.array().cast("array<string>"))


def repeated_passage_stats(
    docs: DataFrame,
    window: int = 32,
    stride: int = 16,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_digits: int = 4,
) -> DataFrame:
    """Per-document repeated-passage measurement — the sub-document twin of
    near-dup dedup (boilerplate headers, licence blocks, templated spans
    repeat ACROSS documents that are not near-dups as wholes; curation
    pipelines threshold on the repeated fraction). For each doc with ≥1
    full window: (id, n_windows, n_repeated, repeated_frac) where a window
    counts as repeated when its hash occurs in ≥ ``min_docs`` DISTINCT
    documents.

    Scale shape: one explode to narrow (id, hash) rows, one groupBy
    counting distinct docs per hash (map-side partial), one equi-join back
    — never all-pairs, and a boilerplate span shared by millions of docs is
    one aggregate row, not a join explosion."""
    # `win` (the tokenize+hash explode — the dominant cost) feeds three
    # aggregation subtrees; the lazy checkpoint materializes it once at the
    # first action instead of Catalyst recomputing the lineage per branch
    win = docs.select(
        F.col(id_col), F.explode(passage_window_hashes_expr(text_col, window, stride)).alias("wh")
    ).localCheckpoint(eager=False)
    hash_docs = (
        win.select("wh", id_col)
        .distinct()
        .groupBy("wh")
        .agg(F.count("*").alias("_ndocs"))
    )
    flagged = hash_docs.filter(F.col("_ndocs") >= min_docs).select("wh")
    per_doc = win.groupBy(id_col).agg(F.count("*").alias("n_windows"))
    rep = (
        win.join(flagged, on="wh", how="left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_repeated"))
    )
    return (
        per_doc.join(rep, on=id_col, how="left")
        .select(
            id_col,
            "n_windows",
            F.coalesce("n_repeated", F.lit(0)).alias("n_repeated"),
            F.round(F.coalesce("n_repeated", F.lit(0)) / F.col("n_windows"), round_digits).alias(
                "repeated_frac"
            ),
        )
    )
