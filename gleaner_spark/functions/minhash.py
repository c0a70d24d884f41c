"""Rotation MinHash and banded LSH — the one similarity operator behind
the pipeline linker (``operators.link``) and ``dedup_minhash_lsh``.

Hash function i = md5 hex digest rotated left by 2·i characters; sig[i]
= lexicographic min over the shingle set (hex min == numeric min on the
uniform md5 space).  One digest per shingle instead of k — and, more
importantly for Spark, the computation is laid out as exploded rows so
md5/substring/concat run inside whole-stage codegen with a map-side
partial min aggregation, instead of interpreted per-element lambdas
inside ``transform(...)`` higher-order functions (measured ~25× slower
for the identical result at sf0.1).

Reference semantics: ``core.text.md5_minhash_signature`` (pure Python,
unit-tested); DuckDB oracle formulation: ``plans.queries._minhash_sql``.
All three produce bit-identical signatures; :func:`minhash_lsh_pairs`
produces the pair set those signatures band into.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .barrier import reliable_ckpt

#: Largest distinct-shingle vocabulary :func:`minhash_lsh_pairs` ranks on
#: the driver (≤1M strings ≈ tens of MB of pandas).  The linker's
#: ``[a-z0-9 ]`` char-3-grams top out at 37³+37²+37 ≈ 52k and the sf1.0
#: dup-rich corpus has ~29k word-3-grams, so both always take the rank
#: path; above the gate the exploded hex-string path needs no driver
#: memory at all.
RANK_DICT_MAX = 1_000_000


def minhash_from_rows(rows: DataFrame, id_cols: list[str],
                      k: int = 16) -> DataFrame:
    """(id_cols..., h: md5-hex per shingle ROW) → (id_cols..., mh).

    The row-shaped entry point: callers that can produce shingle rows
    with plain codegen expressions (e.g. posexplode of a token index +
    try_element_at — see plans.queries._shingle_rows) skip the
    interpreted higher-order-function array construction entirely
    (measured 13× on the sf0.1 dup-rich corpus).  Duplicate shingle rows
    are harmless (min over duplicates == min over the set); every id
    must contribute ≥ 1 row (the generators guarantee one, possibly-''
    shingle per doc)."""
    if not 1 <= k <= 16:
        raise ValueError(f"rotation MinHash supports 1..16 hashes, got k={k}")
    ex = rows if "h" in rows.columns else rows.withColumn("h", F.md5("s"))
    mins = ex.groupBy(*id_cols).agg(
        *[
            F.min(
                F.concat(
                    F.substring("h", 2 * i + 1, 32 - 2 * i),
                    F.substring("h", 1, 2 * i),
                )
            ).alias(f"m{i}")
            for i in range(k)
        ]
    )
    return mins.select(
        *id_cols, F.array(*[f"m{i}" for i in range(k)]).alias("mh")
    )


def lsh_params(threshold: float, k: int = 16,
               fn_weight: float = 0.5) -> tuple[int, int]:
    """Threshold-driven LSH band structure: choose (bands b, rows r)
    with b·r == k minimizing the weighted S-curve error around the
    target Jaccard ``threshold`` —
    fp area = ∫₀ᵗ 1-(1-sʳ)ᵇ ds (low-similarity pairs that collide; the
    quadratic mass at corpus scale), fn area = ∫ₜ¹ (1-sʳ)ᵇ ds (true
    near-dups that never collide).  The 100 TB user knob is the
    similarity threshold, not a band count: callers state intent
    (t=0.7) and the structure follows; all k paid-for hashes are used
    (b·r == k exactly).  Deterministic closed-form trapezoid integral —
    no randomness, so the DuckDB oracle built from the same derived
    constants stays in lockstep."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    best, best_err = None, None
    for r in range(1, k + 1):
        if k % r:
            continue
        b = k // r
        steps = 200
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s ** r) ** b
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        err = (1.0 - fn_weight) * fp + fn_weight * fn
        if best_err is None or err < best_err:
            best, best_err = (b, r), err
    return best


def cap_buckets(bands: DataFrame, keys: list[str], max_bucket: int,
                observation=None) -> DataFrame:
    """LSH bucket-size cap (quadratic-blowup guard): drop every bucket
    with more than ``max_bucket`` members before a band self-join — one
    hot bucket (stop-phrase band key) otherwise goes O(B²).  Members of
    a dropped bucket still pair through their other bands, so recall
    degrades gracefully.  Pass an ``Observation`` to account for the
    drops on the join's own execution (no extra job) — no silent caps."""
    counts = bands.groupBy(*keys).agg(F.count("*").alias("n"))
    if observation is not None:
        counts = counts.observe(
            observation,
            F.sum((F.col("n") > max_bucket).cast("long")).alias("dropped_buckets"),
            F.count(F.lit(1)).alias("total_buckets"),
        )
    return bands.join(
        counts.filter(F.col("n") <= max_bucket).select(*keys), keys,
        "left_semi",
    )


def bucket_cap_counts(observation) -> dict | None:
    """{dropped_buckets, total_buckets} that :func:`cap_buckets`
    observed.  Call it only after an action ran the capped plan (the
    read blocks until then).  None when Spark recorded no counts: AQE
    replaces a join with an empty side by an empty relation and drops
    the observed node with it, which happens when no bucket survives
    the cap or no candidate pair comes out of the band join."""
    # the empty row is the no-counts case; PySpark's .get fails on it
    if observation._jo.getRow().length() == 0:
        return None
    return observation.get


def band_keys(sig: DataFrame, id_cols: list[str], band_size: int,
              mh_col: str = "mh") -> DataFrame:
    """Explode a signature into (id_cols..., bucket) band rows —
    bucket = band index # joined band slice."""
    return sig.select(
        *id_cols,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size({mh_col}) div {band_size} - 1),"
                f" b -> concat_ws('|', slice({mh_col}, b * {band_size} + 1,"
                f" {band_size})))"
            )
        ).alias("band_idx", "band_key"),
    ).withColumn("bucket", F.concat_ws("#", "band_idx", "band_key")).drop(
        "band_idx", "band_key"
    )


def _packed_bands(sig: DataFrame, id_col: str, k: int,
                  band_size: int) -> tuple[DataFrame, list[str]]:
    """Explode an int-rank signature (id_col, m0..m{k-1}) into
    (id_col, bi, p0, ...) band rows: band bi's ranks packed two per long
    (rank < 2^31, so hi·2^32 + lo is bijective — bucket equality is
    exactly equality of the rank tuple)."""
    n_packs = (band_size + 1) // 2

    def pack(b: int, j: int):
        i = b * band_size + 2 * j
        hi = F.col(f"m{i}").cast("long")
        if 2 * j + 1 == band_size:  # odd width: the last rank alone
            return hi
        return hi * 4294967296 + F.col(f"m{i + 1}")

    packs = [f"p{j}" for j in range(n_packs)]
    bands = sig.select(id_col, F.explode(F.array(*[
        F.struct(F.lit(b).alias("bi"),
                 *[pack(b, j).alias(p) for j, p in enumerate(packs)])
        for b in range(k // band_size)
    ])).alias("bk")).select(id_col, "bk.*")
    return bands, ["bi", *packs]


def rotation_ranks(shingles: list[str], k: int = 16):
    """(len(shingles), k) int32 array: column i ranks rot_i(md5(s)) —
    the md5 hex digest rotated left by 2·i characters — among the given
    distinct shingles (``np.unique``: equal rotations get equal ranks,
    md5 ties included), so min-of-ranks ≡ min-of-strings under the
    same order.  The one rank encoder behind :func:`minhash_lsh_pairs`
    and the linker's driver-local path."""
    import hashlib

    import numpy as np

    hexes = [hashlib.md5(s.encode("utf-8")).hexdigest() for s in shingles]
    out = np.empty((len(hexes), k), np.int32)
    for i in range(k):
        rot = np.array([h[2 * i:] + h[:2 * i] for h in hexes], dtype=str)
        out[:, i] = np.unique(rot, return_inverse=True)[1].reshape(-1)
    return out


def minhash_lsh_pairs(rows: DataFrame, id_col: str, band_size: int,
                      max_bucket: int, k: int = 16,
                      observation=None) -> DataFrame:
    """(id_col, s) shingle rows → (a, b) candidate pairs, a < b: ids that
    share at least one of the k // band_size signature bands, after
    :func:`cap_buckets` drops every bucket with more than ``max_bucket``
    members (``observation`` accounts for the drops).  Duplicate rows
    are harmless; every id must contribute ≥ 1 non-null shingle.

    Rank path (distinct vocabulary ≤ :data:`RANK_DICT_MAX`): the band
    buckets only test EQUALITY of signature values, so each rotation is
    rank-encoded on the driver (:func:`rotation_ranks`).  The per-row
    work becomes k int mins and the band keys packed longs instead of
    per-row md5, rotation concats and string compares (sf1.0 ``dedup_minhash_lsh`` 26.0 → 6.1 s).  One
    ``limit(RANK_DICT_MAX + 1)`` job both measures the vocabulary and
    collects it.  Above the gate: the exploded hex-string signature
    (:func:`minhash_from_rows`) with string band keys
    (:func:`band_keys`) — identical buckets, so identical pairs."""
    if not 1 <= k <= 16:
        raise ValueError(f"rotation MinHash supports 1..16 hashes, got k={k}")
    if band_size < 1 or k % band_size:
        raise ValueError(f"band_size must divide k={k}, got {band_size}")
    vocab = rows.select("s").distinct().limit(RANK_DICT_MAX + 1).toPandas()
    if len(vocab) <= RANK_DICT_MAX:
        rank = rotation_ranks(vocab["s"].tolist(), k)
        for i in range(k):
            vocab[f"k{i}"] = rank[:, i]
        ranks = rows.sparkSession.createDataFrame(
            vocab, ", ".join(["s string", *[f"k{i} int" for i in range(k)]]))
        # barrier: the band self-join reads the signature THREE times
        # (bucket counts + both join sides) and the planner reuses none
        # of the exchanges — without it the shingle-scan → join → agg
        # subtree re-executes per read
        sig = reliable_ckpt(
            rows.join(F.broadcast(ranks), "s").groupBy(id_col)
            .agg(*[F.min(f"k{i}").alias(f"m{i}") for i in range(k)])
        )
        bands, keys = _packed_bands(sig, id_col, k, band_size)
    else:
        sig = minhash_from_rows(rows, [id_col], k=k)
        bands, keys = band_keys(sig, [id_col], band_size), ["bucket"]
    bands = cap_buckets(bands, keys, max_bucket, observation=observation)
    left = bands.select(*keys, F.col(id_col).alias("a"))
    right = bands.select(*keys, F.col(id_col).alias("b"))
    return (
        left.join(right, keys)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
