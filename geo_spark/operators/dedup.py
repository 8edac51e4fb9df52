"""Deduplication operators for training-data pipelines.

The web-corpus dedup ladder, cheapest-first:

- :func:`exact_dedup` — md5-of-text hash groupBy (full-content dupes).
- :func:`dup_spans` / :func:`remove_spans` — exact duplicated
  SUBSTRING detection and removal (the Lee-et-al suffix-array pass as
  rolling-gram runs + interval-union splice).
- :func:`line_dedup` — CCNet-style per-line boilerplate removal.
- :func:`ngram_jaccard_pairs` — exact character-n-gram Jaccard via a
  shingle equi-join; the ground truth the approximate tiers are
  tested against.  All native SQL (explode + groupBy), no UDF.
- :func:`jaccard_pairs_prefix` — the same exact semantics via PPJoin
  prefix filtering (lossless; wins on template-heavy corpora).
- :func:`containment_pairs` — asymmetric |A∩B|/|A| inclusion
  (quote/boilerplate detection Jaccard can't express).
- :func:`minhash_lsh_pairs` — MinHash signatures + banded LSH: shingle
  -> 64 minhashes -> b bands joined on band value -> candidate pairs,
  then exact-Jaccard rerank.  The scale path: candidate generation is
  an equi-join on (band_id, band_hash), never all-pairs.
- :func:`simhash64` / :func:`simhash_pairs` — 64-bit SimHash with
  Hamming-radius candidate generation by table rotation.
- :func:`winnow_fingerprints` / :func:`fuzzy_pairs` — MOSS winnowing
  and q-gram-blocked edit-distance linkage.
- :func:`dedup_clusters` — pair graph -> connected components
  (large-star/small-star rounds); :func:`decontaminate` — eval-set
  leakage removal via broadcast shingle semi-join.

Hashes are deterministic splitmix64 over shingle bytes (no Python
``hash``; stable across executors and runs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geo_spark.plans.checkpoints import (
    free_local_checkpoint as _free_local_checkpoint,
)

GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + GOLDEN) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = x
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _shingle_hashes(text: str, n: int) -> np.ndarray:
    """Distinct character-n-gram hashes as uint64 (FNV-1a over bytes,
    then splitmix finalizer)."""
    if len(text) < n:
        data = text.encode()
        h = np.uint64(14695981039346656037)
        with np.errstate(over="ignore"):  # FNV wraps mod 2^64 by design
            for byte in data:
                h = (h ^ np.uint64(byte)) * np.uint64(1099511628211)
        return _splitmix64(np.array([h], dtype=np.uint64))
    b = np.frombuffer(text.encode(), dtype=np.uint8)
    if len(b) < n:  # multi-byte chars shrank nothing here (ascii expected)
        b = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint8)
    # rolling windows (len-n+1, n) via stride trick on the byte array
    win = np.lib.stride_tricks.sliding_window_view(b, n)
    h = np.full(len(win), 14695981039346656037, dtype=np.uint64)
    prime = np.uint64(1099511628211)
    for col in range(n):
        h = (h ^ win[:, col].astype(np.uint64)) * prime
    return np.unique(_splitmix64(h))


def exact_dedup(docs: DataFrame, key: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(text_md5, keep_id, dup_cnt): survivor = min key per exact-content
    group.  Pure hash aggregation — map-side partial combine, one shuffle
    on the 128-bit digest; at 10^12 rows this is the cheapest possible
    full-corpus pass."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(key))
        .groupBy("text_md5")
        .agg(F.min(key).alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


def shingle_expr(text_col: str, n: int):
    """Distinct n-char shingles as a native SQL array (1-based substr,
    portable to the DuckDB oracle verbatim)."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length({text_col})-{n}+1, 1)),"
            f" i -> substr({text_col}, i, {n}))"
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 8,
    threshold: float = 0.3,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold pairs (da < db) via shingle
    equi-join.  Shuffle keys are shingles — Zipf-hot shingles (common
    words) are the skew axis; AQE skew-split handles it, and the
    ``length(shingle)=n`` guard keeps degenerate short docs bounded."""
    sh = (
        docs.select(F.col(key).alias("_id"), F.explode(shingle_expr(text_col, n)).alias("s"))
        .distinct()
    )
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("_id").alias("da"), "s")
    b = sh.select(F.col("_id").alias("db"), "s")
    pairs = (
        a.join(b, "s")
        .where(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("_id").alias("da"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("_id").alias("db"), F.col("n_sh").alias("nb"))
    return (
        pairs.join(sa, "da")
        .join(sb, "db")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("da", "db", "shared", "na", "nb", "jaccard")
    )


def jaccard_pairs_prefix(
    docs: DataFrame,
    n: int = 8,
    threshold: float = 0.3,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold pairs via PREFIX FILTERING
    (Chaudhuri et al. 2006 / PPJoin, Xiao et al. 2008) — same output
    as :func:`ngram_jaccard_pairs`, radically cheaper plan at scale.

    Why: the naive shingle self-join shuffles EVERY (doc, shingle) pair
    and its hot-shingle fan-out is quadratic in document frequency.
    Prefix filtering rests on a lossless theorem: order each doc's
    shingles by a global canonical order (ascending document
    frequency, rarest first — ties by shingle text) and keep only the
    first |S| - ceil(t*|S|) + 1 of them; two sets with Jaccard >= t
    MUST share a prefix shingle.  So the join runs over prefixes only
    (the rarest slivers of each document — the hot head of the Zipf
    curve never becomes a join key), and verification happens IN-ROW:
    candidates join back to the full distinct-shingle ARRAYS and
    ``array_intersect`` computes the exact overlap with zero
    additional shuffle fan-out.

    Output: (da, db, shared, na, nb, jaccard), da < db — bit-identical
    to ngram_jaccard_pairs (asserted in tests; the contract query
    shares its oracle verbatim, which is the point)."""
    arr = docs.select(
        F.col(key).alias("_id"),
        F.array_sort(shingle_expr(text_col, n)).alias("_sh"),
    )
    arr = arr.withColumn("_n", F.array_size("_sh"))
    ex = arr.select("_id", "_n", F.explode("_sh").alias("s"))
    dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy("_id").orderBy("_df", "s")
    prefix = (
        ex.join(dfreq, "s")
        .withColumn("_rk", F.row_number().over(w))
        .where(
            F.col("_rk")
            <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
        )
        .select("_id", "s")
    )
    cand = (
        prefix.select(F.col("_id").alias("da"), "s")
        .join(prefix.select(F.col("_id").alias("db"), "s"), "s")
        .where(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    a = arr.select(
        F.col("_id").alias("da"),
        F.col("_sh").alias("_sa"),
        F.col("_n").alias("na"),
    )
    b = arr.select(
        F.col("_id").alias("db"),
        F.col("_sh").alias("_sb"),
        F.col("_n").alias("nb"),
    )
    return (
        cand.join(a, "da")
        .join(b, "db")
        .withColumn(
            "shared", F.array_size(F.array_intersect("_sa", "_sb"))
        )
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            "da",
            "db",
            F.col("shared").cast("long").alias("shared"),
            F.col("na").cast("long").alias("na"),
            F.col("nb").cast("long").alias("nb"),
            "jaccard",
        )
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 8,
    threshold: float = 0.8,
    max_df: int | None = None,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Directed near-containment pairs: (src, dst) where
    |S(src) ∩ S(dst)| / |S(src)| >= threshold over distinct n-char
    shingles — the ASYMMETRIC cousin of :func:`ngram_jaccard_pairs`.
    Jaccard misses the quote/boilerplate case (a short document wholly
    embedded in a long one scores low symmetric similarity but
    containment ~1); this operator is how a corpus pipeline finds
    quoted sources, syndicated fragments, and template inclusion.

    ``max_df`` is the skew/scale valve: shingles present in more than
    ``max_df`` documents are dropped BEFORE the join (stop-shingles —
    the same df guard winnow_pairs uses), bounding the hottest shuffle
    key's fan-out at the cost of redefining the universe: with the
    valve on, sizes AND intersections both use the filtered shingle
    sets ("effective vocabulary" semantics — self-consistent, and what
    the oracle replays).  ``None`` keeps exact semantics.

    Output: (src, dst, shared, n_src, n_dst, containment), src != dst,
    both directions (containment is directional by construction)."""
    sh = (
        docs.select(
            F.col(key).alias("_id"),
            F.explode(shingle_expr(text_col, n)).alias("s"),
        )
        .distinct()
    )
    if max_df is not None:
        keep = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_df)
            .select("s")
        )
        sh = sh.join(keep, "s", "left_semi")
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("_id").alias("src"), "s")
    b = sh.select(F.col("_id").alias("dst"), "s")
    pairs = (
        a.join(b, "s")
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ssrc = sizes.select(F.col("_id").alias("src"), F.col("n_sh").alias("n_src"))
    sdst = sizes.select(F.col("_id").alias("dst"), F.col("n_sh").alias("n_dst"))
    return (
        pairs.join(ssrc, "src")
        .join(sdst, "dst")
        .withColumn(
            "containment",
            F.col("shared").cast("double") / F.col("n_src"),
        )
        .where(F.col("containment") >= threshold)
        .select("src", "dst", "shared", "n_src", "n_dst", "containment")
    )


def decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 16,
    key: str = "doc_id",
    text_col: str = "text",
    probe_text: str = "text",
) -> DataFrame:
    """Benchmark decontamination: (key, n_hits) for every document that
    shares at least one distinct n-char shingle with the probe (eval)
    set — the step that keeps test-set text out of a training corpus.

    Scale shape: eval sets are dimension-sized, so the probe shingle set
    is broadcast and the 100 TB corpus side is one scan + hash semi-join
    + groupBy (no shuffle of the corpus text, no pair blowup — ANY-hit
    semantics needs no per-pair state, unlike the Jaccard join)."""
    p = (
        probes.select(F.explode(shingle_expr(probe_text, n)).alias("s"))
        .where(F.length("s") == n)
        .distinct()
    )
    d = docs.select(
        F.col(key), F.explode(shingle_expr(text_col, n)).alias("s")
    ).where(F.length("s") == n)
    return (
        d.join(F.broadcast(p), "s")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def contamination_score(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 16,
    key: str = "doc_id",
    text_col: str = "text",
    probe_text: str = "text",
) -> DataFrame:
    """(key, n_shingles, n_hit, frac_e6): per-document contamination
    fraction — the share of the document's DISTINCT n-char shingles
    that appear anywhere in the eval/probe set.  This is the overlap
    *metric* behind n-gram decontamination reports (threshold policies
    like "drop if >X% of n-grams overlap an eval set"); the
    membership-only ANY-hit variant is :func:`decontaminate`.

    ``frac_e6`` = (n_hit * 1_000_000) div n_shingles as an exact
    integer (both operands non-negative, so Spark ``div`` == DuckDB
    ``//`` — the cross-engine rule).  Documents shorter than ``n``
    have no length-``n`` shingle and are ABSENT from the output (an
    absent row means "no scorable content", not "clean" — callers
    gating on the score must left-join and decide a policy for them).

    Scale shape: the probe shingle set is dimension-sized (eval sets)
    and broadcast; the corpus side is one scan + per-doc distinct
    (partial-aggregatable) + broadcast hash join — the corpus text is
    never shuffled and there is no pair blowup."""
    p = (
        probes.select(F.explode(shingle_expr(probe_text, n)).alias("s"))
        .where(F.length("s") == n)
        .distinct()
    )
    # shingle_expr is already array_distinct per doc — no extra shuffle
    d = docs.select(
        F.col(key), F.explode(shingle_expr(text_col, n)).alias("s")
    ).where(F.length("s") == n)
    tot = d.groupBy(key).agg(F.count(F.lit(1)).alias("n_shingles"))
    hit = (
        d.join(F.broadcast(p), "s")
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        tot.join(hit, key, "left")
        .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0)))
        .withColumn(
            "frac_e6",
            F.expr("(n_hit * 1000000) div n_shingles"),
        )
        .select(key, "n_shingles", "n_hit", "frac_e6")
    )


def _fused_sig_sets(
    docs: DataFrame,
    n: int,
    num_hashes: int,
    key: str,
    text_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(key, *extra_cols, sig array<long>, sh array<long>) in ONE text
    pass: the MinHash signature and the exact shingle-hash set per doc.
    ``extra_cols`` ride through untouched (the streaming twin carries
    its event-time column this way, so batch and stream share ONE
    shingling/seeding implementation that cannot desync)."""
    seeds = _splitmix64(np.arange(1, num_hashes + 1, dtype=np.uint64))
    src = docs.select(key, *extra_cols, text_col)
    types = {
        f.name: f.dataType.simpleString() for f in src.schema.fields
    }

    def fused(batches):
        for pdf in batches:
            sigs_out, shs_out = [], []
            for t in pdf[text_col]:
                h = _shingle_hashes(t or "", n)  # (S,) distinct
                m = _splitmix64(h[:, None] ^ seeds[None, :]).min(axis=0)
                sigs_out.append(m.view(np.int64).tolist())
                shs_out.append(h.view(np.int64).tolist())
            out = {key: pdf[key]}
            for c in extra_cols:
                out[c] = pdf[c]
            out["sig"] = sigs_out
            out["sh"] = shs_out
            yield pd.DataFrame(out)

    schema = ", ".join(
        [f"{key} {types[key]}"]
        + [f"{c} {types[c]}" for c in extra_cols]
        + ["sig array<long>", "sh array<long>"]
    )
    return src.mapInPandas(fused, schema)


def _band_bucket_expr(bands: int, rows: int):
    """The per-row array of (band, bh) structs — F.hash over fixed sig
    slices; band/stream candidate joins MUST share this expression
    bit-for-bit or the equi-join silently matches nothing."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(F.slice(F.col("sig"), b * rows + 1, rows)).alias("bh"),
            )
            for b in range(bands)
        ]
    )


def _band_buckets(
    sigs: DataFrame, bands: int, rows: int, key: str
) -> DataFrame:
    """(_id, band, bh): one bucket row per (doc, band) — the LSH index
    rows that equi-join candidates together."""
    return sigs.select(
        F.col(key).alias("_id"),
        F.explode(_band_bucket_expr(bands, rows)).alias("bb"),
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 8,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.3,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs: LSH band-bucket candidate join + exact-Jaccard
    rerank.  With r = num_hashes/bands rows per band, the candidate
    probability is 1-(1-J^r)^bands — tuned so J >= threshold is nearly
    always caught (recall tested vs :func:`ngram_jaccard_pairs`).

    Signatures and shingle-hash sets come from ONE fused text pass
    (persisted): the naive composition scans the corpus three times —
    once for signatures and once per side of the rerank set join — and
    at 100 TB the text scan IS the cost."""
    rows = num_hashes // bands
    base = _fused_sig_sets(docs, n, num_hashes, key, text_col).persist()
    sigs = base.select(key, "sig")
    buckets = _band_buckets(sigs, bands, rows, key)
    a = buckets.select(F.col("_id").alias("da"), "band", "bh")
    b = buckets.select(F.col("_id").alias("db"), "band", "bh")
    cands = (
        a.join(b, ["band", "bh"])
        .where(F.col("da") < F.col("db"))
        .select("da", "db")
        .distinct()
    )
    # Exact rerank on the candidate set only — cost is O(candidates),
    # not all-pairs: join each side's shingle-hash set in and intersect
    # per pair in one Arrow batch.
    return _exact_jaccard_rerank(cands, base.select(key, "sh"), key, threshold)


@F.pandas_udf(T.DoubleType())
def _jac_udf(sa: pd.Series, sb: pd.Series) -> pd.Series:
    out = np.empty(len(sa))
    for i, (x, y) in enumerate(zip(sa, sb)):
        xa = np.asarray(x, dtype=np.int64)
        ya = np.asarray(y, dtype=np.int64)
        inter = len(np.intersect1d(xa, ya, assume_unique=True))
        out[i] = inter / (len(xa) + len(ya) - inter)
    return pd.Series(out)


def _exact_jaccard_rerank(
    cands: DataFrame, sets: DataFrame, key: str, threshold: float
) -> DataFrame:
    """(da, db, jaccard >= threshold): exact shingle-set Jaccard over
    the candidate pairs, sets joined in per side."""
    cands = (
        cands.join(
            sets.withColumnRenamed(key, "da").withColumnRenamed("sh", "_sa"),
            "da",
        ).join(
            sets.withColumnRenamed(key, "db").withColumnRenamed("sh", "_sb"),
            "db",
        )
    )
    return (
        cands.withColumn("jaccard", _jac_udf(F.col("_sa"), F.col("_sb")))
        .where(F.col("jaccard") >= threshold)
        .select("da", "db", "jaccard")
    )


def minhash_index(
    docs: DataFrame,
    n: int = 8,
    num_hashes: int = 64,
    bands: int = 16,
    key: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """The persisted LSH index of a corpus snapshot, built in ONE text
    pass: ``(buckets, sets)`` where buckets = (key, band, bh) — the
    equi-join rows — and sets = (key, sh array<long>) — the exact
    shingle-hash sets for rerank.

    Write both as Parquet (buckets bucketed/sorted by (band, bh)); a
    later crawl batch then near-dups against the whole corpus via
    :func:`incremental_minhash_pairs` WITHOUT rescanning corpus text —
    the incremental pattern that makes continuous dedup affordable at
    100 TB (the index is ~1-2% the size of the text).

    The fused pass is persisted so composing buckets+sets in one job
    (as the contract query does) still scans and signs the text ONCE;
    a production pipeline unpersists after writing both tables."""
    rows = num_hashes // bands
    base = _fused_sig_sets(docs, n, num_hashes, key, text_col).persist()
    buckets = _band_buckets(
        base.select(key, "sig"), bands, rows, key
    ).withColumnRenamed("_id", key)
    return buckets, base.select(key, "sh")


def incremental_minhash_pairs(
    index_buckets: DataFrame,
    index_sets: DataFrame,
    new_docs: DataFrame,
    n: int = 8,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.3,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(da, db, jaccard): near-dup pairs TOUCHING a new crawl batch —
    new-vs-indexed plus new-vs-new — probing a persisted
    :func:`minhash_index` so the indexed corpus text is never re-read.
    Semantics: exactly ``minhash_lsh_pairs(indexed ∪ new)`` filtered to
    pairs with at least one new doc (``q_incremental_dedup`` certifies
    this equality against the exact-Jaccard oracle).  Keys must be
    unique across index and batch; (da, db) is canonical (da < db).

    Scale shape: the batch text is scanned once (fused sig + shingle
    sets); candidates come from the batch's band buckets equi-joined
    against (index ∪ batch) buckets — a scan of the bucket table (16
    longs per indexed doc, not its text).  Rerank first cuts the sets
    table to candidate ids with a broadcast semi-join (candidate ids
    are batch-bounded), so only candidate shingle sets shuffle."""
    rows = num_hashes // bands
    nb = _fused_sig_sets(new_docs, n, num_hashes, key, text_col).persist()
    nbuck = _band_buckets(nb.select(key, "sig"), bands, rows, key)
    all_buck = index_buckets.select(
        F.col(key).alias("_id"), "band", "bh"
    ).unionByName(nbuck)
    cands = (
        nbuck.select(F.col("_id").alias("na"), "band", "bh")
        .join(
            all_buck.select(F.col("_id").alias("ob"), "band", "bh"),
            ["band", "bh"],
        )
        .where(F.col("na") != F.col("ob"))
        .select(
            F.least("na", "ob").alias("da"),
            F.greatest("na", "ob").alias("db"),
        )
        .distinct()
    )
    sets_all = index_sets.select(key, "sh").unionByName(nb.select(key, "sh"))
    needed = (
        cands.select(F.col("da").alias(key))
        .unionByName(cands.select(F.col("db").alias(key)))
        .distinct()
    )
    sets_small = sets_all.join(F.broadcast(needed), key)
    return _exact_jaccard_rerank(cands, sets_small, key, threshold)


def simhash64(
    docs: DataFrame, n: int = 8, key: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(key, simhash long): sign-sum of shingle-hash bit columns."""

    @F.pandas_udf(T.LongType())
    def sh(text: pd.Series) -> pd.Series:
        out = np.empty(len(text), dtype=np.int64)
        for i, t in enumerate(text):
            h = _shingle_hashes(t or "", n)
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
                np.int64
            )
            votes = (2 * bits - 1).sum(axis=0)
            sim = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                sim |= np.uint64(1) << np.uint64(b)
            out[i] = np.int64(sim.view(np.int64))
        return pd.Series(out)

    return docs.select(F.col(key), sh(F.col(text_col)).alias("simhash"))


def hamming_pairs(
    hashed: DataFrame,
    max_hamming: int = 3,
    key: str = "doc_id",
    hash_col: str = "simhash",
) -> DataFrame:
    """(da, db, hamming): pairs of rows whose 64-bit ``hash_col``
    values differ in <= max_hamming bits, via the rotation/table
    trick: split 64 bits into (max_hamming+1) blocks — any pair
    within the radius shares at least one exact block (pigeonhole),
    so the candidate join is an equi-join on (block_id, block_value).
    Generic over the hash source: text simhashes (simhash_pairs) and
    image difference hashes (perceptual near-dup) use the same join."""
    blocks = max_hamming + 1
    width = 64 // blocks
    sh = hashed.select(
        F.col(key).alias("_id"), F.col(hash_col).alias("_h")
    )
    block_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned(F.col("_h"), i * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bv"),
            )
            for i in range(blocks)
        ]
    )
    bk = sh.select(
        "_id", "_h", F.explode(block_arr).alias("bb")
    ).select("_id", "_h", F.col("bb.blk").alias("blk"), F.col("bb.bv").alias("bv"))
    a = bk.select(F.col("_id").alias("da"), F.col("_h").alias("ha"), "blk", "bv")
    b = bk.select(F.col("_id").alias("db"), F.col("_h").alias("hb"), "blk", "bv")
    cands = (
        a.join(b, ["blk", "bv"])
        .where(F.col("da") < F.col("db"))
        .select("da", "db", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cands.withColumn("hamming", ham).where(
        F.col("hamming") <= max_hamming
    ).select("da", "db", "hamming")


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    n: int = 8,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming — simhash64 feeding
    the generic pigeonhole join (:func:`hamming_pairs`)."""
    return hamming_pairs(
        simhash64(docs, n, key, text_col),
        max_hamming=max_hamming,
        key=key,
        hash_col="simhash",
    )


def dedup_clusters(
    pairs: DataFrame,
    docs: DataFrame | None = None,
    key: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Resolve near-dup pairs into clusters: connected components over
    the pair graph, representative = min id per component — the step
    that concludes web-scale dedup (keep one doc per cluster).

    Distributed shape: alternating **large-star / small-star** rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond" —
    the two-phase scheme with an O(log^2 n) round bound): each round
    rewrites the bounded undirected edge table with two groupBy-min +
    equi-join passes, converging when the edge set reaches its
    star-forest fixpoint (every node directly attached to its
    component minimum).  Web dedup clusters (shallow near-cliques
    from a shared template) converge in 2-3 rounds; crucially the
    bound also holds on HIGH-DIAMETER graphs — the round-4
    trail-network fixture (a 168-junction path-shaped component)
    converges in 6 rounds where the previous min-label +
    pointer-jumping scheme needed 31 one-hop rounds and, capped at
    20, silently returned a SPLIT component (pinned in
    tests/test_network.py::test_components_high_diameter).
    Non-convergence inside ``max_iter`` now raises instead of
    mislabeling.  Each round cuts lineage with ``localCheckpoint``
    (the star passes reference the edge table twice — without
    truncation the logical plan grows multiplicatively per round and
    OOMs the driver once the upstream pair plan is itself large, e.g.
    the banded spatial join feeding geo_dbscan).

    Returns (key, rep).  With ``docs`` given, singleton documents (in
    no pair) appear with rep = self.  A doc whose only pair is a
    SELF-pair (da == db) is a node too and labels rep = self even
    without ``docs`` (ADVICE r4: the da != db edge filter must not
    drop it from the node set).
    """
    # canonical (u <= v) distinct pairs, SELF-pairs retained; one
    # materialization truncates the (possibly huge) upstream pair plan,
    # and both the node set and the edge set derive from it
    base = (
        pairs.select(
            F.least("da", "db").alias("u"), F.greatest("da", "db").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    # nodes from the UNFILTERED ids so self-paired docs stay labeled
    nodes = (
        base.select(F.col("u").alias("id"))
        .union(base.select(F.col("v").alias("id")))
        .distinct()
    )
    edges = base.where(F.col("u") != F.col("v"))
    n_edges = edges.count()
    converged = n_edges == 0
    for _ in range(max_iter):
        if converged:
            break
        sym = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        # large-star: m(u) = min(N(u) + {u}); attach every LARGER
        # neighbor v > u to m(u).  m <= u < v, so (m, v) is canonical
        # and never a self loop.
        lm = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least(F.col("_mv"), F.col("u")).alias("m"))
        )
        # lazy: the round's one materialization is new_edges below (ls
        # is referenced twice, but both consumers sit in the same
        # checkpointed plan, so the recompute is one in-memory pass)
        ls = (
            sym.join(lm, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
            .distinct()
        )
        # small-star: per node v, m = min of its SMALLER neighbors
        # (canonical edges put them in the u column); attach each
        # smaller neighbor and v itself to m.  m < v and m <= u, with
        # equality only at the self loop, which is dropped.
        sm = ls.groupBy("v").agg(F.min("u").alias("m"))
        new_edges = (
            ls.join(sm, "v")
            .select(F.col("m").alias("a"), F.col("u").alias("b"))
            .union(sm.select(F.col("m").alias("a"), F.col("v").alias("b")))
            .where(F.col("a") != F.col("b"))
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        # fixpoint test on distinct canonical sets: equal counts plus
        # empty new-minus-old  <=>  set equality
        n_new = new_edges.count()
        if n_new == n_edges:
            diff = (
                new_edges.join(edges, ["u", "v"], "left_anti")
                .limit(1)
                .count()
            )
            converged = diff == 0
        # the old round's checkpoint has no remaining consumer (the
        # fixpoint diff above was its last read) — release its blocks
        # before the next round allocates more (round 1 holds a lazy
        # filter over ``base``, where the guard no-ops; ``base`` itself
        # must stay alive for ``nodes`` below)
        _free_local_checkpoint(edges)
        edges = new_edges
        n_edges = n_new
    if not converged:
        raise RuntimeError(
            f"dedup_clusters: no star-forest fixpoint within {max_iter} "
            "rounds — raise max_iter (the large/small-star bound is "
            "O(log^2 n) rounds, so this indicates a pathological input)"
        )
    # final state is a star forest: centers = component minima sit in
    # the u column, so least(id, min neighbor) is the representative
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    labels = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select(
            F.col("u").alias("id"),
            F.least(F.col("_mv"), F.col("u")).alias("rep"),
        )
    )
    out = (
        nodes.join(labels, "id", "left")
        .select(
            F.col("id").alias(key),
            F.coalesce(F.col("rep"), F.col("id")).alias("rep"),
        )
    )
    if docs is not None:
        out = (
            docs.select(key)
            .join(out, key, "left")
            .select(key, F.coalesce(F.col("rep"), F.col(key)).alias("rep"))
        )
    return out


def line_dedup(
    docs: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_count: int = 1,
) -> DataFrame:
    """CCNet-style line-level boilerplate removal: drop every line whose
    corpus-wide occurrence count exceeds ``max_count``, rebuild each
    document from its surviving lines in order.

    Returns (key, n_lines, n_kept, text_clean) — one row per input doc
    (documents whose every line is boilerplate keep an empty string).

    Scale shape (the 10^12-row deployment):

    - Lines are counted by a 16-hex-char md5 prefix, not the raw string:
      the count shuffle carries 16 bytes + a long per DISTINCT line,
      with map-side partial combine collapsing hot boilerplate lines
      ("Home", cookie banners) before the exchange.
    - Counts attach back via an equi-JOIN on the hash rather than a
      count-over-window: a window partitioned by line hash would buffer
      the hottest boilerplate key's rows in one task (WindowExec holds
      each key group in memory), while sort-merge join streams the fat
      side against exactly one count row per key — skew-safe without
      salting; AQE splits any residual hot join partition.
    - Rebuild is one groupBy(key) with collect_list of (pos, line)
      structs sorted per group — per-doc state is bounded by document
      size, never corpus size.
    - The whole plan is native SQL (split/posexplode/md5/window-free
      aggregation): zero Python, whole-stage codegen end to end.

    ``sep`` is both the split regex and the rejoin separator; md5-prefix
    collisions across distinct lines are conflated (2^-64-scale odds,
    same trade every tier in this module makes).
    """
    import re as _re

    lines = docs.select(
        F.col(key),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep), -1)).alias(
            "pos", "line"
        ),
    ).withColumn("h", F.substring(F.md5("line"), 1, 16))
    counts = lines.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    kept = lines.join(counts, "h").where(F.col("n") <= F.lit(max_count))
    rebuilt = kept.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("text_clean"),
    )
    totals = lines.groupBy(key).agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        docs.select(key)
        .join(totals, key, "left")
        .join(rebuilt, key, "left")
        .select(
            key,
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    kgram: int = 8,
    window: int = 4,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(key, fp): winnowed document fingerprints — the MOSS scheme
    (Schleimer/Wilkerson/Aiken, "Winnowing: local algorithms for
    document fingerprinting").  Hash every character k-gram, slide a
    window of ``window`` consecutive hashes, keep each window's
    minimum, dedup.  Guarantee: any shared substring of length
    >= kgram + window - 1 yields at least one shared fingerprint.

    This variant selects by VALUE (min md5 hex per window — fixed
    length, so lexicographic min == numeric min), which keeps the
    whole operator native SQL in any engine; positional tie rules
    don't change the fingerprint SET.

    Scale shape: the gram table is O(total chars) skinny rows; one
    per-doc window (single shuffle) + distinct.  Downstream joins
    should drop fingerprints appearing in many docs (stop-grams) —
    see winnow_pairs(max_df=...), the skew valve."""
    n_g = F.length(F.col(text_col)) - (kgram - 1)
    grams = docs.where(n_g >= 1).select(
        F.col(key),
        F.explode(F.sequence(F.lit(1), n_g)).alias("pos"),
        F.col(text_col),
    )
    h = F.md5(F.expr(f"substring({text_col}, pos, {kgram})"))
    w = (
        Window.partitionBy(key)
        .orderBy("pos")
        .rowsBetween(0, window - 1)
    )
    hashed = grams.select(F.col(key), F.col("pos"), h.alias("_h"))
    n_w = Window.partitionBy(key)
    fps = (
        hashed.withColumn("_fp", F.min("_h").over(w))
        .withColumn("_np", F.max("pos").over(n_w))
        .where(F.col("pos") <= F.col("_np") - (window - 1))
        .select(F.col(key), F.col("_fp").alias("fp"))
        .distinct()
    )
    return fps


def winnow_pairs(
    docs: DataFrame,
    min_shared: int = 2,
    kgram: int = 8,
    window: int = 4,
    max_df: int | None = None,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a, id_b, n_shared): document pairs sharing >= min_shared
    winnowed fingerprints (id_a < id_b).  ``max_df`` drops
    fingerprints present in more than that many docs before the
    self-join — boilerplate grams are both noise and the join's hot
    keys, so the quality filter IS the skew fix."""
    fps = winnow_fingerprints(docs, kgram, window, key, text_col)
    if max_df is not None:
        df_t = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
        fps = (
            fps.join(df_t, "fp").where(F.col("_df") <= max_df).drop("_df")
        )
    a = fps.select(F.col(key).alias("id_a"), "fp")
    b = fps.select(F.col(key).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def fuzzy_pairs(
    df: DataFrame,
    max_dist: int,
    q: int = 4,
    key: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, dist): record-linkage fuzzy join — all pairs within
    ``max_dist`` edit distance, q-gram blocking + native levenshtein
    refine (both stay JVM-side; no Python anywhere).

    Losslessness (the q-gram lemma): an edit destroys at most q grams,
    so two strings of length >= q*(max_dist+1) within max_dist edits
    share at least one q-gram — the operator filters shorter strings
    out (their all-pairs fallback belongs upstream).  ``max_df`` drops
    hot blocking grams — the skew valve, at the documented cost of
    recall on pairs that share ONLY stop-grams (exactness requires
    max_df=None).

    Scale shape: gram explode -> distinct (key, gram) -> equi-join ->
    distinct candidate pairs -> length prefilter -> one levenshtein per
    candidate.  Blocking quality is corpus-dependent: on text with
    heavy shared vocabulary the candidate set degrades toward
    all-pairs, and max_df (or a rarest-k-grams-per-doc selection) is
    the dial that restores it."""
    base = df.select(F.col(key), F.col(text_col).alias("_s")).where(
        F.length("_s") >= q * (max_dist + 1)
    )
    n_g = F.length("_s") - (q - 1)
    grams = (
        base.select(
            F.col(key), F.explode(F.sequence(F.lit(1), n_g)).alias("pos"), "_s"
        )
        .select(F.col(key), F.expr(f"substring(_s, pos, {q})").alias("g"))
        .distinct()
    )
    if max_df is not None:
        dfc = grams.groupBy("g").agg(F.count(F.lit(1)).alias("_df"))
        grams = grams.join(dfc, "g").where(F.col("_df") <= max_df).drop("_df")
    a = grams.select(F.col(key).alias("id_a"), "g")
    b = grams.select(F.col(key).alias("id_b"), "g")
    cand = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ta = base.select(F.col(key).alias("id_a"), F.col("_s").alias("_sa"))
    tb = base.select(F.col(key).alias("id_b"), F.col("_s").alias("_sb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .where(
            F.abs(F.length("_sa") - F.length("_sb")) <= max_dist
        )
        .withColumn("dist", F.levenshtein("_sa", "_sb"))
        .where(F.col("dist") <= max_dist)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


def dup_spans(
    docs: DataFrame,
    gram_len: int = 50,
    min_count: int = 2,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(key, span_start, span_end, span_len): maximal EXACT duplicated
    character spans per document — every length-``gram_len`` window
    inside a reported span occurs at least ``min_count`` times in the
    whole corpus.  This is the exact-substring dedup of Lee et al.
    ("Deduplicating Training Data Makes Language Models Better"),
    whose suffix-array construction is replaced by a Spark-native
    rolling-gram pipeline: the gram table IS the relevant slice of the
    suffix array (fixed-depth prefixes), and maximal spans fall out of
    a per-document run merge instead of LCP walking.

    Plan: one positional gram explode (md5(gram) so the shuffle key is
    16 bytes regardless of gram_len), one corpus-wide gram count
    (map-side combined), a semi-join back to flag duplicated
    positions, then the stay_points run trick — consecutive flagged
    positions collapse via (pos - row_number) run keys, one window +
    one aggregate per doc.  Spans of overlapping duplicated grams
    merge automatically (positions are consecutive).  1-based
    character offsets, span_end inclusive.

    Skew/scale notes: the gram count's hot keys are boilerplate — the
    same Zipf head every shingle op here faces; partial aggregation
    absorbs it.  At 100 TB, gram_len=50 with a min_count prefilter on
    the count table keeps the flag join small (only duplicated grams
    ship back)."""
    pos_grams = docs.select(
        F.col(key).alias("_id"),
        F.length(text_col).alias("_len"),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(length({text_col})-{gram_len}+1, 1)),"
                f" i -> md5(substr({text_col}, i, {gram_len})))"
            )
        ).alias("_p0", "g"),
    ).where(F.col("_len") >= gram_len).select(
        "_id", (F.col("_p0") + 1).alias("pos"), "g"
    )
    hot = (
        pos_grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("g")
    )
    flagged = pos_grams.join(hot, "g", "left_semi")
    w = Window.partitionBy("_id").orderBy("pos")
    runs = flagged.withColumn(
        "_run", F.col("pos") - F.row_number().over(w)
    )
    return (
        runs.groupBy("_id", "_run")
        .agg(F.min("pos").alias("span_start"), F.max("pos").alias("_last"))
        .select(
            F.col("_id").alias(key),
            "span_start",
            (F.col("_last") + gram_len - 1).alias("span_end"),
            (F.col("_last") + gram_len - F.col("span_start"))
            .alias("span_len"),
        )
    )


def remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(key, clean_text, n_removed): cut character intervals out of
    each document — the transformation half of exact-substring dedup
    (dup_spans finds the intervals, this removes them; chained, they
    are the Lee-et-al cleaning pass).

    Overlap-safe: adjacent dup_spans runs can still overlap in
    CHARACTER space (a 1-position flag gap leaves gram_len-1 shared
    characters), so spans are first merged into their interval UNION
    (running-max-of-end window, the SCD2/stay-points shape), then the
    kept text is the ordered concatenation of complement gaps — one
    window + one substring per gap + one sorted aggregate, all native
    SQL; documents with no spans pass through via LEFT join.  1-based
    inclusive intervals, matching dup_spans."""
    s = spans.select(
        F.col(key).alias("_id"),
        F.col("span_start").cast("long").alias("s"),
        F.col("span_end").cast("long").alias("e"),
    )
    w_prev = (
        Window.partitionBy("_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = (
        s.withColumn("_pmax", F.max("e").over(w_prev))
        .withColumn(
            "_new",
            F.when(
                F.col("_pmax").isNull() | (F.col("s") > F.col("_pmax") + 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "_grp",
            F.sum("_new").over(
                Window.partitionBy("_id").orderBy("s", "e")
            ),
        )
        .groupBy("_id", "_grp")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    base = docs.select(
        F.col(key).alias("_id"),
        F.col(text_col).alias("_t"),
        F.length(text_col).cast("long").alias("_len"),
    )
    j = base.join(merged, "_id", "left")
    w_lag = Window.partitionBy("_id").orderBy("s", "e")
    gaps = j.withColumn(
        "_gap_start", F.coalesce(F.lag("e").over(w_lag) + 1, F.lit(1))
    ).withColumn("_gap_end", F.coalesce(F.col("s") - 1, F.col("_len")))
    # each row contributes the gap BEFORE its span; the tail gap after
    # the last span is contributed by a per-doc max aggregate below
    pieces = gaps.select(
        "_id",
        F.col("_gap_start").alias("p"),
        F.when(
            F.col("_gap_end") >= F.col("_gap_start"),
            F.expr("substr(_t, _gap_start, _gap_end - _gap_start + 1)"),
        ).otherwise(F.lit("")).alias("piece"),
    )
    tails = (
        j.where(F.col("s").isNotNull())
        .groupBy("_id")
        .agg(F.max("e").alias("_last_e"), F.first("_t").alias("_t"),
             F.first("_len").alias("_len"))
        .select(
            "_id",
            (F.col("_last_e") + 1).alias("p"),
            F.when(
                F.col("_last_e") < F.col("_len"),
                F.expr("substr(_t, _last_e + 1, _len - _last_e)"),
            ).otherwise(F.lit("")).alias("piece"),
        )
    )
    assembled = (
        pieces.unionByName(tails)
        .groupBy("_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("p", "piece"))
                    ),
                    lambda x: x["piece"],
                ),
                "",
            ).alias("clean_text")
        )
    )
    return (
        base.join(assembled, "_id")
        .select(
            F.col("_id").alias(key),
            "clean_text",
            (F.col("_len") - F.length("clean_text"))
            .cast("long")
            .alias("n_removed"),
        )
    )


def fold_into_index(
    index_buckets: DataFrame,
    index_sets: DataFrame,
    new_docs: DataFrame,
    n: int = 8,
    num_hashes: int = 64,
    bands: int = 16,
    key: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(buckets', sets'): the index after absorbing a probed batch —
    the step that closes the incremental loop (probe with
    :func:`incremental_minhash_pairs`, act on the pairs, then fold the
    survivors in so the NEXT batch sees them).  Plain unions of the
    batch's one-pass signature tables with the existing index; fold
    then re-probe is exactly equivalent to indexing the concatenated
    corpus (pinned in tests)."""
    nb, ns = minhash_index(
        new_docs, n=n, num_hashes=num_hashes, bands=bands,
        key=key, text_col=text_col,
    )
    return (
        index_buckets.unionByName(nb),
        index_sets.unionByName(ns),
    )
