"""Per-file BLOOM-FILTER index for keyed-table bases — file skipping
for EQUALITY probes on high-cardinality, unsorted columns, where the
zone map is blind (a random value's per-file [min,max] spans nearly
the whole domain, so min/max pruning keeps every file; Delta Lake
ships the same complement as its bloom filter index, Parquet as
row-group bloom filters).

Mechanics reuse the engine's public-API bloom construction
(`operators/bloom.py`: k positions per value via `xxhash64(col,
seed_i) pmod m`, folded into a bitset DISTRIBUTIVELY with bit_or) —
but grouped by `_metadata.file_path`, so ONE aggregation job yields
every file's bitset and nothing row-proportional ever reaches the
driver. Bitsets are stored SPARSE (map<word_index, word>) as a
parquet sidecar directory `_bloomidx/` INSIDE the versioned base —
underscore-prefixed, so plain parquet readers never see it, and it
commits / time-travels / GCs with its base exactly like the zone map.

Probing is also a Spark job, not driver arithmetic: the sidecar is
O(files) tiny rows, and the membership test is the same
whole-stage-codegen expression the bloom semi join uses, evaluated
over those rows with the probe value cast to the column's RECORDED
dtype (hash parity with the build — xxhash64 of an int and a long
differ). A file with no sidecar row for the column (all-null, written
before the column existed, or pre-bloom versions) is conservatively
KEPT; a present row covers every non-null value in that file, so
false negatives are impossible and pruning can only drop files that
cannot hold the probe. False positives cost one redundant file read.

Sizing: `m_bits` per file (default 2^16 = 8 KiB dense, less sparse)
at k=5 gives ~5e-5 false-positive rate for ~2k distinct values per
file; the sidecar for an 800-file base is a few MB — the same bounded
metadata class as the zone map, and it scales by SHARDING NATURALLY:
it is parquet, read by Spark, never parsed on the driver.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fs as hfs
from .zonemap import stats_read

BLOOM_SIDECAR = "_bloomidx"
M_BITS = 1 << 16
N_HASHES = 5


def _positions(col: F.Column, m_bits: int, n_hashes: int) -> F.Column:
    return F.array(*[F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m_bits))
                     for i in range(n_hashes)])


def auto_m_bits(n_max: int) -> int:
    """Bitset size for the fullest file's value count: ~14 bits per
    value, rounded up to a power of two, floored at 2^16."""
    return max(M_BITS, 1 << (14 * int(n_max)).bit_length())


def collect_bloom_index(spark: SparkSession, base_dir: str,
                        cols: list[str],
                        paths: list[str] | None = None,
                        m_bits: int | None = None,
                        n_hashes: int = N_HASHES,
                        n_max: int | None = None,
                        schema: T.StructType | None = None
                        ) -> DataFrame | None:
    """Per-file sparse bloom bitsets for `cols` over the parquet files
    of `base_dir` (or the explicit `paths` subset — the pruned fold
    stats only its rewritten files). One job per call: explode k
    positions per (file, value), fold to (file, word) with bit_or,
    pack to a map per file. Returns the sidecar rows (file, col,
    dtype, m_bits, n_hashes, words) or None when no column is
    usable.

    `m_bits=None` (the default) AUTO-SIZES from the data: ~14 bits per
    value of the fullest file, rounded up to a power of two, floored
    at 2^16 — a fixed size silently degrades as files grow (at 19k
    values in 64 Kib the fp rate is ~26%, measured: 24 of 80 files
    passed a probe that belonged to 1). The sizing count is one
    cheap grouped-count job; the per-file cost lands in the sidecar's
    recorded params, so mixed sizings across folds stay probe-safe.

    `n_max` (the fullest file's row count) skips the sizing job when
    the caller already knows it — the write path collects the zone
    map immediately before this and its per-file `rows` entries are
    the exact same per-file counts (r16 trim: one fewer job per
    bloom-indexed base write; identical m_bits by construction).
    `schema` is the writer's (`zonemap.stats_read`)."""
    df = stats_read(spark, base_dir, cols, paths, schema)
    usable = [c for c in cols if c in df.columns]
    if not usable:
        return None
    if m_bits is None:
        if n_max is None:
            n_max = (df.groupBy(F.col("_metadata.file_path"))
                     .count().agg(F.max("count")).first()[0]) or 1
        m_bits = auto_m_bits(n_max or 1)
    dtypes = dict(df.dtypes)
    parts = []
    for c in usable:
        pos = (df.select(
                   F.col("_metadata.file_path").alias("__path"),
                   F.col(c).alias("__v"))
               .filter(F.col("__v").isNotNull())
               .select("__path",
                       F.explode(_positions(F.col("__v"), m_bits,
                                            n_hashes)).alias("__pos")))
        words = (pos.select(
                     "__path",
                     (F.col("__pos") / 64).cast("long").alias("__w"),
                     F.call_function(
                         "shiftleft", F.lit(1).cast("long"),
                         (F.col("__pos") % 64).cast("int")).alias("__m"))
                 .groupBy("__path", "__w")
                 .agg(F.bit_or("__m").alias("__bits")))
        packed = (words.groupBy("__path")
                  .agg(F.map_from_entries(
                      F.collect_list(F.struct("__w", "__bits"))
                  ).alias("words"))
                  .select(
                      F.element_at(F.split("__path", "/"), -1)
                       .alias("file"),
                      F.lit(c).alias("col"),
                      F.lit(dtypes[c]).alias("dtype"),
                      F.lit(m_bits).alias("m_bits"),
                      F.lit(n_hashes).alias("n_hashes"),
                      "words"))
        parts.append(packed)
    return reduce(lambda a, b: a.unionByName(b), parts)


def write_bloom_index(spark: SparkSession, base_dir: str,
                      rows: DataFrame) -> None:
    (rows.coalesce(1).write.mode("overwrite")
         .parquet(hfs.join(base_dir, BLOOM_SIDECAR)))


def read_bloom_index(spark: SparkSession,
                     base_dir: str) -> DataFrame | None:
    d = hfs.join(base_dir, BLOOM_SIDECAR)
    if not hfs.exists(spark, d):
        return None
    # the sidecar is committed with its base and never mutated — read
    # it through the committed-dir schema memo so repeated probes skip
    # per-read footer inference (r17, guide §1.2; late import: this
    # module is imported by keyed_table)
    from .keyed_table import _read_committed_parquet
    return _read_committed_parquet(spark, [d])


# (dtype, max n_hashes) per (base_dir, col, sidecar listing) — the
# sidecar is immutable per base version (it commits, time-travels, and
# GCs with its base), so the meta aggregate is derived metadata of
# immutable files: one job on first probe, memo hits afterwards (r17 —
# a point-probe loop paid the meta job per probe). The listing is the
# fingerprint, as for the schema memo: a table dropped and re-created
# at the same path writes new job-UUID file names, so a stale dtype
# can never hash the probe differently from the build and prune a file
# that holds it. Bounded like the schema memo.
_BLOOM_META_MEMO: dict[tuple, tuple | None] = {}
_BLOOM_META_CAP = 4096


def bloom_index_cols(spark: SparkSession, base_dir: str) -> set[str]:
    idx = read_bloom_index(spark, base_dir)
    if idx is None:
        return set()
    return {r["col"] for r in idx.select("col").distinct().collect()}


def bloom_kept_files(spark: SparkSession, base_dir: str, col: str,
                     value, all_files: set[str]) -> set[str] | None:
    """Files of `all_files` that may hold `value` in `col` under the
    base's bloom index: indexed files whose bitset passes the k-probe
    membership test, plus every file WITHOUT an index row for the
    column (conservative). None when the base has no bloom index on
    the column at all — the caller skips bloom pruning entirely.
    One tiny job over O(files) sidecar rows; the probe value is cast
    to the recorded dtype so the hash matches the build's."""
    idx = read_bloom_index(spark, base_dir)
    if idx is None:
        return None
    mine = idx.filter(F.col("col") == col)
    mkey = (base_dir, col, tuple(sorted(
        hfs.listdir(spark, hfs.join(base_dir, BLOOM_SIDECAR)))))
    cached = _BLOOM_META_MEMO.get(mkey, ())
    if cached == ():
        meta = mine.agg(F.collect_set("dtype").alias("dt"),
                        F.max("n_hashes").alias("maxk")).first()
        if (not meta["dt"] or meta["maxk"] is None
                or len(meta["dt"]) > 1):
            # absent column or dtype drift across folds: bloom prune
            # unusable for this (base, col) — memoized too
            cached = None
        else:
            cached = (meta["dt"][0], int(meta["maxk"]))
        if len(_BLOOM_META_MEMO) >= _BLOOM_META_CAP:
            _BLOOM_META_MEMO.pop(next(iter(_BLOOM_META_MEMO)))
        _BLOOM_META_MEMO[mkey] = cached
    if cached is None:
        return None
    probe = F.lit(value).cast(cached[0])
    # params are PER ROW (a pruned fold can carry entries built under
    # older sizing next to freshly-stats'd ones): every conjunct
    # beyond a row's own n_hashes is vacuously true — testing fewer
    # positions than built only admits extra files, never drops one
    conjuncts = []
    for i in range(cached[1]):
        p = F.pmod(F.xxhash64(probe, F.lit(i)), F.col("m_bits"))
        bit = (F.coalesce(
                   F.element_at(F.col("words"), (p / 64).cast("long")),
                   F.lit(0).cast("long"))
               .bitwiseAND(F.call_function(
                   "shiftleft", F.lit(1).cast("long"),
                   (p % 64).cast("int"))) != 0)
        conjuncts.append((F.lit(i) >= F.col("n_hashes")) | bit)
    hit = reduce(lambda a, b: a & b, conjuncts)
    rows = mine.select("file", hit.alias("__hit")).collect()
    indexed = {r["file"] for r in rows}
    passing = {r["file"] for r in rows if r["__hit"]}
    return (passing | (all_files - indexed)) & all_files
