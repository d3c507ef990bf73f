"""Deduplication suite for training-data pipelines.

Beyond the reference's full-row distinct (remove_duplicates,
src/utils.py:252-257, D1) and keep-first dedup (postprod.bash:103, D2),
a 100 TB corpus needs near-dup detection. All variants below are pure
DataFrame compositions — shingling/minhashing happen inside whole-stage
codegen via array expressions (functions/text.py), bucket joins are plain
shuffles on short keys.
"""

from __future__ import annotations

import logging
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import _let, fingerprint, normalized_text, shingles, tokens

_LOG = logging.getLogger(__name__)

# ------------------------------------------------------------ exact dedup


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup on normalized text: keeps the smallest id
    per fingerprint (deterministic, parallelism-independent).

    Physical shape: ``min_by`` over the full-row struct, NOT a row_number
    window — a hash aggregate gets map-side partial combine (duplicate rows
    collapse inside each map task before the exchange), whereas a window
    must sort-shuffle every row within each fingerprint partition. Same
    argmin pattern as mentions.link_mentions; at 10^12 rows it is the
    difference between shuffling one row per distinct document and
    shuffling the whole corpus.

    NULL-text rows pass through UNTOUCHED (review r5): md5(NULL) is NULL
    for all of them, and a plain groupBy would put every null fingerprint
    in ONE group — silently dropping every null-text document but one as
    'duplicates' with no comparable content."""
    cols = df.columns
    with_fp = df.withColumn("__fp", fingerprint(F.col(text_col)))
    kept = (
        with_fp.filter(F.col("__fp").isNotNull())
        .groupBy("__fp")
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("__first"))
        .select("__first.*")
    )
    passthrough = with_fp.filter(F.col("__fp").isNull()).drop("__fp")
    return kept.unionByName(passthrough)


# --------------------------------------------------------------- MinHash


def minhash_signature(
    df: DataFrame, text_col: str = "text", k: int = 3, n_hashes: int = 16,
    scheme: str = "km",
) -> DataFrame:
    """n_hashes-permutation MinHash over k-token shingles. Array expressions
    only; no UDF, no explode — the signature computes map-side with zero
    shuffle. Both schemes are DuckDB-oracle-reproducible bit-for-bit.

    ``scheme='km'`` (default): ONE md5 per shingle, split into two 52-bit
    halves (h1, h2), permutation i = h1 + (i+1)*(2*h2+1) — Kirsch-
    Mitzenmacher double hashing, the standard trick for deriving a hash
    family from one base hash. n_hashes md5 calls per shingle collapse to
    one; 52-bit halves keep (i+1)*h2' + h1 < 2^63 for n_hashes <= 512 (no
    ANSI overflow). Adds ``minhash: array<long>``.

    ``scheme='md5'``: permutation i is md5(shingle || '#' || i) — the
    original n-independent-hashes form, kept for corpora already
    fingerprinted with it. Adds ``minhash: array<string>``."""
    sh = shingles(F.col(text_col), k)
    if scheme == "md5":
        # bind the shingle array as a REAL column first — n_hashes sibling
        # array_min(transform(..)) expressions would otherwise each
        # re-evaluate the whole tokenize+shingle HOF chain (review r5: the
        # same re-evaluation trap the km branch below documents and fixes)
        sig = F.array(
            *[
                F.array_min(
                    F.transform(
                        F.col("__mh_sh"), lambda s: F.md5(F.concat(s, F.lit(f"#{i}")))
                    )
                )
                for i in range(n_hashes)
            ]
        )
        return (
            df.withColumn("__mh_sh", sh).withColumn("minhash", sig).drop("__mh_sh")
        )
    if scheme != "km":
        raise ValueError(f"unknown minhash scheme {scheme!r} (use 'km' or 'md5')")
    if n_hashes > 512:
        raise ValueError("km scheme supports n_hashes <= 512 (64-bit headroom)")
    # the md5s and the (h1, h2') pairs are bound as REAL columns in child
    # projections so the md5 runs ONCE per shingle — n_hashes sibling
    # array_min(transform(..)) expressions would otherwise each re-evaluate
    # the md5 HOF (the re-evaluation trap fixed for lang_id in r2,
    # functions/text._let); CollapseProject keeps multi-referenced
    # expensive aliases in their own projection.
    md5s = F.transform(sh, lambda s: F.md5(s))
    hs = F.transform(
        F.col("__mh_md5"),
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 13), 16, 10).cast("long").alias("h1"),
            (F.conv(F.substring(m, 14, 13), 16, 10).cast("long") * 2 + 1).alias("h2"),
        ),
    )
    sig = F.array(
        *[
            F.array_min(
                F.transform(F.col("__mh_hs"), lambda h: h["h1"] + F.lit(i + 1) * h["h2"])
            )
            for i in range(n_hashes)
        ]
    )
    return (
        df.withColumn("__mh_md5", md5s)
        .withColumn("__mh_hs", hs)
        .withColumn("minhash", sig)
        .drop("__mh_md5", "__mh_hs")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    max_bucket_size: int | None = 1000,
    log_clips: bool = False,
    scheme: str = "km",
) -> DataFrame:
    """MinHash-LSH near-dup candidates: band the signature, self-join on
    (band_id, band_hash) buckets, emit id pairs (a < b).

    Scale: the self-join shuffles only (band_key, id) — never text. Skewed
    buckets (boilerplate pages) are split by AQE skew-join and bounded by
    ``max_bucket_size`` below. Do NOT salt the band keys with
    canonicalize.salt_keys: a positional salt puts identically-keyed rows
    of the two join sides in different buckets and silently DROPS
    candidate pairs (salting is for additive aggregations only).

    ``max_bucket_size``: giant-bucket cap. A degenerate band bucket with n
    members (boilerplate/identical pages all hashing alike) would emit n^2
    candidate pairs BEFORE any verify stage — AQE can redistribute those
    pairs but cannot stop them existing. Buckets above the cap are
    STAR-LINKED instead of all-paired: every member pairs with the
    bucket's minimum id only (n-1 pairs). True duplicate clusters stay
    connected (a downstream connected-components over verified pairs
    recovers the full cluster through the hub) and the n^2 blowup cannot
    happen. Note the pair SET differs from the uncapped one for those
    buckets — candidates are a recall vehicle, not an exact relation.
    None disables the cap. The cap is fully declarative (no extra Spark
    job when nothing is clipped); ``log_clips=True`` opts into one small
    eager agg that WARN-logs what was star-linked.

    Docs with FEWER THAN k tokens have no shingles and are EXCLUDED from
    candidate generation (review r5: their all-null signatures used to
    concat_ws-skip into the same md5('') bucket — a corpus-wide
    false-candidate clique of every short doc, diverging from the DuckDB
    oracle and feeding guaranteed-empty pairs to jaccard verification).
    Short docs are exact-dedup territory (fingerprint), not shingle-LSH."""
    if n_hashes < 1 or n_bands < 1 or n_hashes % n_bands != 0:
        # review r5: n_bands > n_hashes made rows_per_band 0 — EVERY band
        # key md5('') and the whole corpus one bucket; non-divisible
        # inputs silently ignored trailing signature positions. n_hashes=0
        # would pass divisibility but make minhash[0] an out-of-bounds
        # read (ANSI INVALID_ARRAY_INDEX) instead of a clear error.
        raise ValueError(
            f"n_bands {n_bands} must divide n_hashes {n_hashes} >= 1 "
            "(rows_per_band = n_hashes / n_bands)"
        )
    rows_per_band = n_hashes // n_bands
    sig = minhash_signature(df, text_col, k, n_hashes, scheme=scheme).select(
        id_col, "minhash"
    )
    # materialize before the self-join: joining on COMPUTED columns makes
    # Catalyst lose the equi-keys and fall back to a nested-loop plan;
    # checkpointed attributes give a plain shuffled hash join. The
    # checkpoint sits BELOW the null filter on purpose: filtering on the
    # computed minhash column pushes the predicate under the projection
    # and re-evaluates the whole signature chain per row (the §4.4
    # duplicated-evaluation shape, JVM-side — measured 10s -> 19s on a
    # 50k-doc single run); filtering the materialized rows is an array
    # read.
    sig = sig.localCheckpoint(eager=False).filter(F.col("minhash")[0].isNotNull())
    bands = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col("minhash")[b * rows_per_band + r].cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")
    star_pairs = None
    if max_bucket_size is not None:
        # DECLARATIVE cap (VERDICT r2 #7): one lazy plan, zero extra driver
        # jobs when nothing is clipped. Bucket sizes + hub come from a
        # map-side-combinable agg on the SAME keys the self-join shuffles
        # on. Only the OVER-CAP buckets are materialized (r6): the old
        # shape joined the full sizes table back onto every band row,
        # which re-ran the sizes aggregation once per consuming branch
        # (3x) and carried the whole size table through the plan; the
        # over-cap set is bounded by n_rows/cap and is what both branches
        # actually route on — band rows star-link via an inner join with
        # it and keep the all-pairs path via a left-anti join (AQE
        # broadcasts the usually-tiny set; no forced hint, so a
        # pathological corpus may still shuffle-join it safely).
        sizes = bands.groupBy("band_id", "band_hash").agg(
            F.count("*").alias("__n"), F.min(id_col).alias("__hub")
        )
        big = sizes.filter(F.col("__n") > max_bucket_size).localCheckpoint(eager=False)
        if log_clips:
            clipped = big.agg(
                F.count("*").alias("k"), F.sum("__n").alias("rows"), F.max("__n").alias("worst")
            ).collect()[0]
            if clipped["k"]:
                _LOG.warning(
                    "lsh_candidate_pairs: star-linking %d bucket(s) over cap %d "
                    "(%d member rows, largest %d) — all-pairs would be O(n^2)",
                    clipped["k"], max_bucket_size, clipped["rows"], clipped["worst"],
                )
        star_pairs = (
            bands.join(big, ["band_id", "band_hash"])
            .filter(F.col(id_col) != F.col("__hub"))
            .select(
                F.least(F.col("__hub"), F.col(id_col)).alias("id_a"),
                F.greatest(F.col("__hub"), F.col(id_col)).alias("id_b"),
            )
        )
        bands = bands.join(
            big.select("band_id", "band_hash"), ["band_id", "band_hash"], "left_anti"
        )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )
    if star_pairs is not None:
        pairs = pairs.unionByName(star_pairs)
    return pairs.distinct()


# --------------------------------------------------------------- SimHash


def simhash64(
    df: DataFrame, text_col: str = "text", out_col: str = "simhash", hash_fn: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash over tokens: sum per-bit +-1 votes of a 64-bit token
    hash, sign -> bit. Near-dup docs differ in few bits (hamming distance).

    Single-pass expression: ONE ``aggregate`` over the token-hash array
    carries an array-of-64 vote accumulator (the inner ``transform`` lambda
    only bit-tests the bound lambda variable ``h`` — cheap), then one fold
    packs the sign bits into a long. The naive form — 64 independent
    aggregates — re-derives the token/hash arrays per bit: O(64 * n_tokens)
    tokenizations per row and a giant codegen tree.

    ``hash_fn``: 'xxhash64' (default, cheapest) or 'md5' (first 16 hex
    chars of md5 parsed as a 64-bit value — the DuckDB-parity choice for
    the driver oracle, same convention as minhash_signature/mint_uri).
    """
    toks = tokens(F.col(text_col))
    if hash_fn == "xxhash64":
        h64 = lambda t: F.xxhash64(t)  # noqa: E731
    elif hash_fn == "md5":
        # two 32-bit halves via conv (conv parses hex to a decimal string;
        # 8 hex chars always fit a long) packed with a bitwise shift
        def h64(t):
            m = F.md5(t)
            hi = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
            lo = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
            return F.shiftleft(hi, 32).bitwiseOR(lo)
    else:
        raise ValueError(f"unknown hash_fn: {hash_fn}")
    hashes = F.transform(toks, h64)
    # one pass over tokens, array-of-64 vote accumulator; getbit reads the
    # bound lambda variable h (cheap) — vote = bit*2-1 = +-1
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.transform(acc, lambda a, i: a + F.getbit(h, i) * 2 - 1),
    )
    # pack sign bits into a long; _let binds the votes array once so the 64
    # element reads don't re-run the aggregate
    sim = _let(
        votes,
        lambda v: reduce(
            lambda x, y: x.bitwiseOR(y),
            [
                F.when(v[i] > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                    F.lit(0).cast("long")
                )
                for i in range(64)
            ],
        ),
    )
    return df.withColumn(out_col, sim)


def hamming64(a, b):
    return F.bit_count(a.bitwiseXOR(b))


# -------------------------------------------------------- n-gram Jaccard


def jaccard_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Exact k-token-shingle Jaccard for candidate pairs (verification stage
    after LSH): |A∩B| / |A∪B| via array_intersect/union on distinct
    shingle sets. Join order: pairs (small) x docs twice, both joins on id —
    text is only shuffled for docs that appear in a candidate pair.

    A pair where BOTH docs have no shingles (< k tokens) has an empty
    union; jaccard is NULL for it (undefined — review r5: the division
    used to kill the job under Spark 4's default ANSI mode)."""
    sh = df.select(
        F.col(id_col), F.array_distinct(shingles(F.col(text_col), k)).alias("sh")
    )
    return (
        pairs.join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.try_divide(
                    F.size(F.array_intersect("sh_a", "sh_b")),
                    F.size(F.array_union("sh_a", "sh_b")),
                ),
                4,
            ).alias("jaccard"),
        )
    )
