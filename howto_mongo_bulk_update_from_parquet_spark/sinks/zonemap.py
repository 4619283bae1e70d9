"""File-level zone maps (min/max statistics) for keyed-table bases —
the data-skipping layer a 100 TB table needs so a point or range read
touches a handful of files instead of scanning the base.

Why a separate layout: the bucketed base (hash layout) keeps merge
joins exchange-free, but hash partitioning scatters the key space so
every file spans nearly the full key range — a min/max map prunes
NOTHING there (bucket pruning by key hash is the right tool, and
`keyed_table.pruned_base_files` applies it). The RANGE layout
(`range_files=N` on the writer: `repartitionByRange(key)` +
`sortWithinPartitions(key)`) gives files DISJOINT key ranges, so the
zone map prunes an equality or range predicate down to the one or two
files that can hold it. The two layouts are alternatives per table:
hash for upsert-heavy tables (merge cost dominates), range for
read-heavy tables (lookup cost dominates) — the same trade Delta
Lake's users make between bucketing/partitioning and Z-ORDER
clustering, carried here in the engine's own minimal form because the
table-format jars are absent (see sinks/table_formats.py).

The map lives INSIDE the versioned base directory, so it is
committed, time-traveled, and garbage-collected with its base — a
reader can never pair version N's stats with version M's files.
Collection is one column-pruned scan of the just-written base
(`_metadata.file_path` + the stat columns only — for a wide table
this reads a few percent of the bytes, once, at write time); the
collected list is O(files) driver state, the same bounded class as
the engine's centroid/bounds tables.

Manifest sharding (r13, verdict item 4 — the Iceberg-manifest
posture): up to SHARD_TARGET files the map is ONE JSON sidecar
`_zonemap.json` (version 1 — the common case, zero extra round
trips). Past that, `_zonemap.json` becomes a version-2 INDEX holding
per-shard column spans, and the per-file entries split across
`_zonemap_shard_NNNNN.json` files of SHARD_TARGET entries each.
Entries are sorted by file name, which for the range layout's
part-file naming is key order — so each shard covers a contiguous
key slice and a point/range probe plans by reading the index plus
the one or two intersecting shards: O(probe) driver parse, not
O(files). At 100k files that is a ~200-entry index + one ~512-entry
shard per lookup instead of re-parsing a multi-MB document
(`ZoneMapIndex.prune`); writers and full-map consumers (pruned
compaction's carry) still see the materialized whole via
`read_zone_map`.

Underscore-prefixed sidecars are invisible to Spark's parquet reader,
so plain `spark.read.parquet(base)` consumers are unaffected.
"""

from __future__ import annotations

import json
from bisect import bisect_left
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fs as hfs

ZONEMAP_FILE = "_zonemap.json"
# Entries per shard file once the map splits (version 2). Also the
# inline (version 1) ceiling: a map at or under this size stays one
# sidecar with zero extra round trips.
SHARD_TARGET = 512
_SHARD_FMT = "_zonemap_shard_{:05d}.json"

# dtypes the map can order client-side; anything else is recorded as
# unprunable (the file list degrades to "keep all" for that column)
_ORDERED_DTYPES = {
    "tinyint", "smallint", "int", "integer", "bigint", "long",
    "float", "double", "string", "date", "timestamp", "timestamp_ntz",
}


def _dtype_name(df: DataFrame, col: str) -> str:
    return dict(df.dtypes)[col]


def _to_json_value(v: Any) -> Any:
    """JSON-encodable form of a min/max value, ordering-preserving per
    dtype: date/timestamp → ISO-8601 strings (lexicographic order ==
    chronological order), numerics and strings pass through."""
    if v is None:
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def norm_probe(v: Any) -> Any:
    """Normalize a caller's probe value the same way stored min/max
    values were normalized, so comparisons are like-for-like."""
    return _to_json_value(v)


def stats_read(spark: SparkSession, base_dir: str, cols: list[str],
               paths: list[str] | None = None,
               schema: T.StructType | None = None) -> DataFrame:
    """The files a stats collector scans: `paths`, else every file of
    `base_dir`. A writer that just wrote them passes its `schema`; the
    read then takes the stat columns from it instead of running a
    footer-inference job over files whose schema it already knows."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(T.StructType(
            [f for f in schema.fields if f.name in cols]))
    return reader.parquet(*(paths if paths else [base_dir]))


def collect_zone_map(spark: SparkSession, base_dir: str,
                     cols: list[str],
                     paths: list[str] | None = None,
                     schema: T.StructType | None = None) -> dict | None:
    """Per-file min/max/row-count for `cols` over the parquet files of
    `base_dir`, as the zone-map document (not yet written). One
    aggregation job, grouped on the hidden `_metadata.file_path`
    column so Spark prunes the scan to exactly the stat columns.
    Columns with un-orderable dtypes are dropped from the map (never
    silently recorded as prunable). Returns None when nothing usable
    remains. `paths` restricts the scan to an explicit file subset —
    the pruned-compaction path stats ONLY its rewritten files and
    carries the untouched files' entries forward verbatim, so the
    stats job is O(rewritten bytes), never O(base). `schema` is the
    writer's (`stats_read`)."""
    df = stats_read(spark, base_dir, cols, paths, schema)
    usable = [c for c in cols
              if c in df.columns and _dtype_name(df, c) in _ORDERED_DTYPES]
    if not usable:
        return None
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in usable:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    rows = (df.select(F.col("_metadata.file_path").alias("__path"), *usable)
            .groupBy("__path").agg(*aggs).collect())
    files = []
    for r in rows:
        entry: dict[str, Any] = {
            # store the NAME only — the map stays valid if the table
            # directory is moved or mounted under a different URI
            "file": r["__path"].rsplit("/", 1)[-1],
            "rows": r["__rows"],
        }
        for c in usable:
            entry[f"min_{c}"] = _to_json_value(r[f"__min_{c}"])
            entry[f"max_{c}"] = _to_json_value(r[f"__max_{c}"])
        files.append(entry)
    return {
        "version": 1,
        "cols": {c: _dtype_name(df, c) for c in usable},
        "files": sorted(files, key=lambda e: e["file"]),
    }


def write_zone_map(spark: SparkSession, base_dir: str,
                   zmap: dict) -> None:
    """Persist a zone map document. At or under SHARD_TARGET files it
    is written inline (version 1, one sidecar). Past that it shards:
    `_zonemap.json` becomes a version-2 index of per-shard column
    spans and the entries split across `_zonemap_shard_NNNNN.json`
    files, so planning a probe parses O(probe) bytes instead of
    O(files). Shard files land BEFORE the index (a reader that sees
    the index sees every shard it names). The keyed-table writer
    targets its private staging dir, before the rename that creates
    the base slot, so no stale shards can linger from a previous
    map."""
    files = sorted(zmap["files"], key=lambda e: e["file"])
    cols = zmap["cols"]
    if len(files) <= SHARD_TARGET:
        hfs.write_text(spark, hfs.join(base_dir, ZONEMAP_FILE),
                       json.dumps({"version": 1, "cols": cols,
                                   "files": files},
                                  separators=(",", ":")))
        return
    shards = [files[i:i + SHARD_TARGET]
              for i in range(0, len(files), SHARD_TARGET)]
    index = []
    for i, entries in enumerate(shards):
        name = _SHARD_FMT.format(i)
        hfs.write_text(spark, hfs.join(base_dir, name),
                       json.dumps({"files": entries},
                                  separators=(",", ":")))
        spans: dict[str, Any] = {}
        for c in cols:
            mins = [e.get(f"min_{c}") for e in entries]
            maxs = [e.get(f"max_{c}") for e in entries]
            if any(v is None for v in mins) or any(v is None for v in maxs):
                # a member with absent/null stats must always be kept
                # — the shard cannot be span-skipped for this column
                spans[c] = None
            else:
                spans[c] = [min(mins), max(maxs)]
        index.append({"shard": name, "n": len(entries), "spans": spans})
    hfs.write_text(spark, hfs.join(base_dir, ZONEMAP_FILE),
                   json.dumps({"version": 2, "cols": cols,
                               "n_files": len(files), "shards": index},
                              separators=(",", ":")))


def read_zone_map(spark: SparkSession, base_dir: str) -> dict | None:
    """The FULL materialized map (version-1 shape) regardless of the
    stored layout — full-map consumers (pruned compaction's entry
    carry, fallbacks) use this; probe planning should go through
    `ZoneMapIndex` instead, which reads only intersecting shards."""
    idx = load_zone_map_index(spark, base_dir)
    if idx is None:
        return None
    return {"version": 1, "cols": idx.cols, "files": idx.entries()}


def load_zone_map_index(spark: SparkSession,
                        base_dir: str) -> "ZoneMapIndex | None":
    txt = hfs.read_text(spark, hfs.join(base_dir, ZONEMAP_FILE))
    if txt is None:
        return None
    try:
        doc = json.loads(txt)
    except ValueError:
        return None
    if doc.get("version") not in (1, 2):
        return None
    return ZoneMapIndex(spark, base_dir, doc)


def _may_hit(f_min: Any, f_max: Any, probe: list | None,
             n_lo: Any, n_hi: Any) -> bool:
    """Can [f_min, f_max] intersect the predicate (sorted equality
    `probe`, or normalized closed range [n_lo, n_hi])? The single
    interval test every prune level shares."""
    if probe is not None:
        i = bisect_left(probe, f_min)
        return i < len(probe) and probe[i] <= f_max
    if n_lo is not None and f_max < n_lo:
        return False
    if n_hi is not None and n_hi < f_min:
        return False
    return True


class ZoneMapIndex:
    """Lazy zone-map reader: parses the `_zonemap.json` head document
    once and fetches shard files only when a probe's span requires
    them (version-1 inline maps have everything in the head — zero
    extra reads). `shards_read` counts fetches so tests and the scale
    harness can pin the sub-linearity."""

    def __init__(self, spark: SparkSession, base_dir: str, doc: dict):
        self._spark = spark
        self._dir = base_dir
        self._doc = doc
        self._cache: dict[str, list[dict]] = {}
        self.shards_read = 0

    @property
    def cols(self) -> dict[str, str]:
        return self._doc.get("cols", {})

    @property
    def n_files(self) -> int:
        if self._doc.get("version") == 1:
            return len(self._doc["files"])
        return self._doc["n_files"]

    def _shard_entries(self, name: str) -> list[dict]:
        if name not in self._cache:
            txt = hfs.read_text(self._spark, hfs.join(self._dir, name))
            if txt is None:
                raise IOError(f"zone-map shard {name} named by the "
                              f"index is missing under {self._dir} — "
                              f"corrupt sidecar")
            self._cache[name] = json.loads(txt)["files"]
            self.shards_read += 1
        return self._cache[name]

    def entries(self) -> list[dict]:
        """Every per-file entry (reads all shards — full-map path)."""
        if self._doc.get("version") == 1:
            return self._doc["files"]
        out: list[dict] = []
        for s in self._doc["shards"]:
            out.extend(self._shard_entries(s["shard"]))
        return out

    def entries_for(self, col: str, *, values: list | None = None,
                    lo: Any = None, hi: Any = None
                    ) -> tuple[list[dict], bool] | None:
        """(entries that may intersect the predicate on `col`,
        complete) — reading only span-intersecting shards. `complete`
        is True when every file NOT represented in the returned
        entries is PROVEN non-intersecting (its shard's span missed
        the probe); version-1 maps and read-everything cases return
        the full entry list with complete=True trivially. None when
        the map cannot answer for this column."""
        if col not in self.cols:
            return None
        probe = sorted(norm_probe(v) for v in values) \
            if values is not None else None
        n_lo, n_hi = norm_probe(lo), norm_probe(hi)
        if self._doc.get("version") == 1:
            return self._doc["files"], True
        out: list[dict] = []
        for s in self._doc["shards"]:
            span = s.get("spans", {}).get(col)
            if span is not None and not _may_hit(span[0], span[1],
                                                 probe, n_lo, n_hi):
                continue                 # whole shard proven out
            out.extend(self._shard_entries(s["shard"]))
        return out, True

    def prune(self, col: str, *, values: list | None = None,
              lo: Any = None, hi: Any = None) -> list[str] | None:
        """File names whose [min,max] for `col` may intersect the
        predicate — `prune_files` semantics, but reading only the
        shards whose span can matter. Files in skipped shards are
        proven non-intersecting (the shard span bounds every member
        with recorded stats, and members WITHOUT stats force the
        span to None = never skipped). None when the map cannot
        answer for this column."""
        got = self.entries_for(col, values=values, lo=lo, hi=hi)
        if got is None:
            return None
        entries, _ = got
        return prune_files({"cols": self.cols, "files": entries}, col,
                           values=values, lo=lo, hi=hi)


def prune_files(zmap: dict, col: str, *,
                values: list[Any] | None = None,
                lo: Any = None, hi: Any = None) -> list[str] | None:
    """File names whose [min,max] interval for `col` can intersect the
    predicate — an equality set (`values`) or a closed range
    [`lo`,`hi`] (either bound may be None = unbounded). Conservative
    by construction: a kept file may hold no matching row (the
    caller's residual filter removes those rows), but a matching row
    is NEVER in a dropped file — a file whose stats omit the column
    or carry nulls is kept. Returns None when the map cannot answer
    for this column at all (caller reads everything)."""
    if col not in zmap.get("cols", {}):
        return None
    kept: list[str] = []
    # probe values and stored min/max share one normalization (ISO
    # strings for temporals, numerics/strings as-is), so plain Python
    # ordering compares like with like; a TypeError from a wrong-typed
    # probe should surface, not be swallowed into a wrong prune
    probe = sorted(norm_probe(v) for v in values) \
        if values is not None else None
    n_lo = norm_probe(lo)
    n_hi = norm_probe(hi)
    for entry in zmap["files"]:
        f_min = entry.get(f"min_{col}")
        f_max = entry.get(f"max_{col}")
        if f_min is None or f_max is None:
            kept.append(entry["file"])   # stats absent/null — keep
            continue
        if _may_hit(f_min, f_max, probe, n_lo, n_hi):
            kept.append(entry["file"])
    return kept
