"""Iceberg-emulated table catalog: parquet snapshots + atomic manifests.

No Iceberg runtime jar ships in this sandbox (SURVEY.md sandbox facts),
so the pipeline's "Iceberg tables" are emulated with the same commit
semantics a real catalog would give us, behind a call surface small
enough that ``spark.writeTo(...)`` on a real Iceberg catalog can be
dropped in on a cluster:

* every write lands in a fresh ``snap-<n>/`` directory (parquet,
  optionally partitioned);
* the commit is a single atomic rename of a manifest JSON
  (``os.replace``) recording the snapshot dir, row count and
  per-partition lineage stats (north_rule: partition id, input span,
  row counts, skew stats);
* those per-file stats come from the parquet footers of the files just
  written (a driver-side pyarrow read, no Spark job).  Only when the
  footers cannot reproduce a scan's answer exactly — a missing column
  statistic, a partition-column key, a key type whose Spark string
  cast is not reproducible, a float/double/timestamp zone map — is the
  snapshot read back and aggregated per file instead;
* readers resolve the *current* manifest; uncommitted snapshot dirs are
  invisible garbage — a mid-write kill leaves the previous snapshot
  intact (snapshot isolation), which is what makes stage resume
  idempotent.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import unicodedata

from pyspark.sql import DataFrame, SparkSession, functions as F

_NULL_FLAGS = ("nullable", "containsNull", "valueContainsNull")

# Column types whose min/max survive a JSON round trip with their
# ordering intact — the only types file statistics may be kept for.
# (decimal is excluded: Decimal→JSON loses exactness, and a lexical
# string compare of "9.5" vs "10.5" would prune WRONG files — worse
# than no pruning.)
_STATS_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double",
                "string", "date", "timestamp", "timestamp_ntz",
                "boolean")

# Lineage-key types whose ``min/max(key).cast("string")`` the driver
# reproduces exactly from footer values: the string itself, or str() of
# an integer.
_FOOTER_KEY_TYPES = ("string", "tinyint", "smallint", "int", "bigint")
# Zone-map types whose footer min/max equal Spark's aggregate exactly.
# Not float/double (parquet statistics order NaN and -0.0 differently
# from Spark's min/max) and not timestamps (INT96 footers carry no
# statistics at all).
_FOOTER_STATS_TYPES = ("tinyint", "smallint", "int", "bigint", "string",
                       "date", "boolean")
# Footer key Spark writes in LEGACY datetime rebase mode: stored dates
# are then hybrid-calendar days, not the proleptic ones pyarrow decodes.
_LEGACY_DATETIME_KEY = b"org.apache.spark.legacyDateTime"
# Characters java.net.URI leaves unquoted in a path: unreserved,
# punctuation, "/" and "@".
_URI_PATH_CHARS = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    "_-!.~'()*,;:$&+=/@")


def _stat_key(v):
    """Normalize a collected min/max (or a caller-side bound) into the
    JSON-safe, correctly-ordering comparison domain: numbers stay
    numbers (Python compares int/float natively), date/datetime become
    ISO strings (lexical == chronological), bool becomes int."""
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float, str)):
        return v
    # datetime.date / datetime.datetime (isoformat orders correctly;
    # zero-pad years < 1000 would break it, but Spark dates collect as
    # date objects whose isoformat pads to 4 digits)
    iso = getattr(v, "isoformat", None)
    if iso is not None:
        return iso()
    raise TypeError("unsupported file-statistics value type: %r"
                    % type(v).__name__)


def _file_uri(path: str) -> str:
    """The URI ``input_file_name()`` reports for a local absolute path
    (Hadoop ``Path.toUri().toString()``): java.net.URI quoting keeps
    legal path characters and non-ASCII non-space, non-control
    characters, and percent-encodes the UTF-8 bytes of the rest."""
    out = []
    for ch in path:
        if ch in _URI_PATH_CHARS or (
                ord(ch) > 0x9F
                and unicodedata.category(ch) not in ("Zs", "Zl", "Zp")):
            out.append(ch)
        else:
            out.extend("%%%02X" % b for b in ch.encode("utf-8"))
    return "file://" + "".join(out)


def _data_files(snap_dir: str) -> list[str]:
    """Every data file under ``snap_dir``, skipping the names Spark's
    file index hides (``_SUCCESS``, ``.crc`` checksums, in-flight
    copies); ``_``-prefixed names with ``=`` are partition dirs."""
    def hidden(name):
        return (name.startswith(".") or name.endswith("._COPYING_")
                or (name.startswith("_") and "=" not in name))
    found = []
    for root, dirs, files in os.walk(snap_dir):
        dirs[:] = [d for d in dirs if not hidden(d)]
        found.extend(os.path.join(root, f) for f in files if not hidden(f))
    return found


def _chunk_span(md, col: int):
    """``(min, max, nulls)`` of column ``col`` merged over the row groups
    of a footer, or None when some chunk lacks the statistics to say.
    An all-null chunk legitimately has no min/max."""
    lo = hi = None
    nulls = 0
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        st = rg.column(col).statistics
        if st is None or not st.has_null_count:
            return None
        nulls += st.null_count
        if st.null_count == rg.num_rows:
            continue
        if not st.has_min_max:
            return None           # e.g. parquet-mr drops binary > 4 KB
        mn, mx = st.min, st.max
        lo = mn if lo is None or mn < lo else lo
        hi = mx if hi is None or mx > hi else hi
    return lo, hi, nulls


def _footer_file_stats(snap_dir: str, schema, key: str,
                       stat_cols: list[str],
                       partition_by: list[str] | None) -> list[dict] | None:
    """Per-file lineage stats of a written snapshot from its parquet
    footers — what :meth:`IcebergishCatalog._scan_file_stats` computes,
    without a Spark job.  Returns None whenever the footers cannot
    reproduce the scan's answer exactly, and the caller scans instead."""
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    in_files = set(types) - set(partition_by or ())
    if key not in in_files or types[key] not in _FOOTER_KEY_TYPES:
        return None
    if any(c not in in_files or types[c] not in _FOOTER_STATS_TYPES
           for c in stat_cols):
        return None
    import pyarrow.parquet as pq
    cols = list(dict.fromkeys([key] + stat_cols))
    rows = []
    for path in _data_files(snap_dir):
        md = pq.read_metadata(path)
        if md.num_rows == 0:
            continue
        if _LEGACY_DATETIME_KEY in (md.metadata or {}):
            return None
        paths = [md.schema.column(i).path for i in range(md.num_columns)]
        spans = {}
        for c in cols:
            if paths.count(c) != 1:
                return None
            try:
                spans[c] = _chunk_span(md, paths.index(c))
            except UnicodeDecodeError:    # string stats that are not UTF-8
                return None
            if spans[c] is None:
                return None
        mn, mx, _ = spans[key]
        rows.append({
            "file": _file_uri(path), "cnt": md.num_rows,
            "mn": None if mn is None else str(mn),
            "mx": None if mx is None else str(mx),
            "stats": {c: {"min": _stat_key(spans[c][0]),
                          "max": _stat_key(spans[c][1]),
                          "nulls": spans[c][2]} for c in stat_cols}})
    return sorted(rows, key=lambda r: r["file"])


def _strip_null_flags(node):
    """Schema-JSON with every nullability flag removed — the
    shape-equality half of the append compatibility check."""
    if isinstance(node, dict):
        return {k: _strip_null_flags(v) for k, v in node.items()
                if k not in _NULL_FLAGS}
    if isinstance(node, list):
        return [_strip_null_flags(x) for x in node]
    return node


def _nullability_superset(committed, incoming):
    """True when every nullability flag in ``committed`` is at least as
    permissive as ``incoming``'s (call only after shape equality).
    Writing REQUIRED data into an OPTIONAL column is safe (Iceberg
    allows it — and Spark's parquet reader widens nullability on every
    read, so round-tripped frames are always the permissive side);
    the reverse would let nulls hide under a non-null manifest schema.
    """
    if isinstance(committed, dict):
        for k, v in committed.items():
            iv = incoming.get(k) if isinstance(incoming, dict) else None
            if k in _NULL_FLAGS:
                if (not v) and iv:
                    return False
            elif not _nullability_superset(v, iv):
                return False
        return True
    if isinstance(committed, list):
        return all(_nullability_superset(c, i)
                   for c, i in zip(committed, incoming))
    return True


class IcebergishCatalog:

    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ paths

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _manifest_path(self, table: str, snapshot_id: int) -> str:
        return os.path.join(self._table_dir(table),
                            "manifest-%06d.json" % snapshot_id)

    def _list_manifests(self, table: str) -> list[str]:
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return []
        # sort by the parsed snapshot id, not lexicographically — the
        # zero-padded name wraps at 1e6 commits and [-1] would resolve
        # a stale snapshot
        return sorted((f for f in os.listdir(tdir)
                       if f.startswith("manifest-") and f.endswith(".json")),
                      key=lambda f: int(f[len("manifest-"):-len(".json")]))

    def current_manifest(self, table: str) -> dict | None:
        manifests = self._list_manifests(table)
        if not manifests:
            return None
        with open(os.path.join(self._table_dir(table), manifests[-1])) as fp:
            return json.load(fp)

    def exists(self, table: str) -> bool:
        return self.current_manifest(table) is not None

    def tables(self, prefix: str = "") -> list[str]:
        """Sorted committed table names starting with ``prefix``."""
        if not os.path.isdir(self.root):
            return []
        return sorted(t for t in os.listdir(self.root)
                      if t.startswith(prefix)
                      and os.path.isdir(self._table_dir(t))
                      and self._list_manifests(t))

    # ------------------------------------------------------------ write

    def write(self, table: str, df: DataFrame,
              partition_by: list[str] | None = None,
              lineage_key: str | None = None,
              properties: dict | None = None,
              stats_columns: list[str] | None = None,
              cluster_by: list[str] | None = None,
              num_files: int | None = None) -> dict:
        """Write a new snapshot of ``table`` and commit it atomically.

        ``lineage_key``: column whose per-file min/max is recorded as the
        input span in the lineage rows (defaults to the first column).
        ``properties``: caller metadata recorded in the manifest (e.g.
        the pipeline's config fingerprint that gates resume).
        ``stats_columns``: columns whose per-FILE min/max/null-count are
        recorded in the manifest (Iceberg/parquet zone maps at manifest
        granularity) — what :meth:`read_where` prunes data files with.
        Only JSON-order-safe types are accepted (see ``_STATS_TYPES``).
        ``cluster_by``: range-cluster the data across files on these
        columns before writing (Iceberg's sort-order / Delta OPTIMIZE
        ZORDER intent for the 1-D case): ``repartitionByRange`` +
        ``sortWithinPartitions`` makes each file cover a NARROW span of
        the cluster key, which is what turns min/max stats from
        decorative into a 100-TB scan-skipping lever — on a randomly
        laid-out table every file overlaps every predicate and nothing
        prunes.  ``num_files`` bounds the clustered file count
        (default: ``spark.sql.shuffle.partitions``).
        """
        if cluster_by:
            n = int(num_files) if num_files else None
            df = (df.repartitionByRange(n, *cluster_by) if n
                  else df.repartitionByRange(*cluster_by))
            df = df.sortWithinPartitions(*cluster_by)
        return self._write_snapshot(table, df, partition_by, lineage_key,
                                    properties, base=None,
                                    stats_columns=stats_columns,
                                    cluster_by=cluster_by)

    def append(self, table: str, df: DataFrame,
               lineage_key: str | None = None,
               properties: dict | None = None) -> dict:
        """Append ``df`` as a new snapshot that REFERENCES the current
        snapshot's data files plus the newly written ones — real
        Iceberg append semantics: only the batch's files hit disk, the
        corpus is never rewritten (the 100 TB shape for incremental
        signature indexes).  Lineage part ids continue from the prior
        snapshot; falls back to a plain ``write`` when the table does
        not exist yet.  The commit is still one atomic manifest rename,
        so a mid-append kill leaves the previous snapshot intact.

        BREAKING CHANGE (round 5): the schema check now compares
        nullability directionally — optional-into-required is REJECTED
        where the old (name, type)-only check accepted it.  A caller
        whose first write committed non-nullable columns (``spark.range``
        output, aggregates) and later appends parquet-read-back frames
        (always nullable) will newly raise: either pin the first write's
        schema nullable (``spark.createDataFrame(df.rdd, nullable_schema)``
        -free route: write/read-back once) or widen it before the first
        commit.  In-repo flows all commit nullable-first."""
        current = self.current_manifest(table)
        if current is None:
            return self._write_snapshot(table, df, None, lineage_key,
                                        properties, base=None)
        # names AND types: a name-only check would commit e.g. an
        # int-typed id into a long-typed table and only fail (or
        # silently coerce) at a much later read.  Nullability compares
        # DIRECTIONALLY: required-into-optional is accepted (compacted
        # tables are always on the optional side — the parquet reader
        # widens every flag), optional-into-required is rejected.
        committed = current["schema"]
        incoming = df.schema.jsonValue()
        if (_strip_null_flags(committed) != _strip_null_flags(incoming)
                or not _nullability_superset(committed, incoming)):
            raise ValueError(
                "append schema mismatch for table %r: committed %s "
                "vs incoming %s" % (table, committed["fields"],
                                    incoming["fields"]))
        if current["partition_by"]:
            # directory-partitioned values live in dir names, and a
            # multi-root read cannot re-infer them reliably — a real
            # Iceberg catalog appends into the same partition spec; the
            # shim keeps appends to unpartitioned tables only (signature
            # indexes etc.), loudly.
            raise ValueError("append to a partitioned table is not "
                             "supported by the Icebergish shim (%r)"
                             % table)
        # the COMMITTED schema stays the manifest schema: an append of
        # a stricter-nullability frame (common with literal columns)
        # must not silently tighten the table's contract — the evolved
        # nullable columns from add_columns would otherwise flip
        # required after one strict append and reject the next nullable
        # one.  Shape equality is already guaranteed above.
        return self._write_snapshot(
            table, df, None, lineage_key, properties, base=current,
            operation="append", schema_json=current["schema"],
            stats_columns=current.get("stats_columns") or None)

    def _write_snapshot(self, table: str, df: DataFrame,
                        partition_by: list[str] | None,
                        lineage_key: str | None,
                        properties: dict | None,
                        base: dict | None,
                        schema_json: dict | None = None,
                        operation: str = "overwrite",
                        stats_columns: list[str] | None = None,
                        cluster_by: list[str] | None = None) -> dict:
        # validate the stats spec BEFORE any data is written, so a bad
        # spec fails side-effect-free instead of leaving an orphaned
        # uncommitted snapshot directory behind (the stats below are
        # taken over df.schema verbatim, so validating df here is
        # equivalent)
        stat_cols = list(stats_columns or [])
        if stat_cols:
            by_name = {f.name: f for f in df.schema.fields}
            for c in stat_cols:
                if c not in by_name:
                    raise ValueError("stats column %r not in schema" % c)
                t = by_name[c].dataType.simpleString()
                if t not in _STATS_TYPES:
                    raise ValueError(
                        "stats column %r has type %s, whose min/max do "
                        "not JSON-round-trip with ordering intact; "
                        "supported: %s" % (c, t, ", ".join(_STATS_TYPES)))

        tdir = self._table_dir(table)
        os.makedirs(tdir, exist_ok=True)
        current = self.current_manifest(table)
        snapshot_id = (current["snapshot_id"] + 1) if current else 0
        snap_dir = os.path.join(tdir, "snap-%06d" % snapshot_id)

        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(snap_dir)

        # Per-file (≈ per-partition) lineage of what was just written:
        # from the parquet footers when they can reproduce the scan
        # aggregate exactly, else from the scan itself.  Both sort by
        # the file URI, so part_id assignment — and therefore the
        # manifest bytes — are replay-deterministic.
        key = lineage_key or df.columns[0]
        stats = _footer_file_stats(os.path.abspath(snap_dir), df.schema,
                                   key, stat_cols, partition_by)
        if stats is None:
            stats = self._scan_file_stats(snap_dir, df.schema, key,
                                          stat_cols)
        base_lineage = list(base["lineage"]) if base else []
        base_dirs = (base.get("dirs", [base["dir"]]) if base else [])
        lineage = base_lineage + [
            {"part_id": len(base_lineage) + i,
             "file": os.path.basename(r["file"]),
             "dir": os.path.basename(snap_dir),
             "input_min": r["mn"], "input_max": r["mx"],
             "row_count": r["cnt"],
             **({"stats": r["stats"]} if stat_cols else {})}
            for i, r in enumerate(stats)
        ]
        row_count = sum(p["row_count"] for p in lineage)
        counts = [p["row_count"] for p in lineage] or [0]
        merged_props = dict(base["properties"]) if base else {}
        merged_props.update(properties or {})
        manifest = {
            "table": table,
            "schema": schema_json or df.schema.jsonValue(),
            "snapshot_id": snapshot_id,
            # commit wall time (epoch seconds): what age-based
            # expire_snapshots(older_than=...) keys on.  The DATA stays
            # replay-deterministic (sorted lineage, stable part ids);
            # only this ops-metadata field varies between replays.
            "committed_at": time.time(),
            "operation": operation,
            "dir": os.path.basename(snap_dir),
            "dirs": base_dirs + [os.path.basename(snap_dir)],
            "row_count": row_count,
            "partition_by": partition_by or [],
            "stats_columns": stat_cols,
            "cluster_by": list(cluster_by or
                               (base.get("cluster_by", []) if base else [])),
            "skew": {"partitions": len(counts),
                     "max_rows": max(counts), "min_rows": min(counts),
                     "mean_rows": row_count / max(len(counts), 1)},
            "properties": merged_props,
            "lineage": lineage,
        }
        tmp = self._manifest_path(table, snapshot_id) + ".tmp"
        with open(tmp, "w") as fp:
            json.dump(manifest, fp, indent=1)
        os.replace(tmp, self._manifest_path(table, snapshot_id))  # commit
        return manifest

    def _scan_file_stats(self, snap_dir: str, schema, key: str,
                         stat_cols: list[str]) -> list[dict]:
        """Per-file lineage stats by reading the snapshot back — one
        columnar aggregate grouped by ``input_file_name()`` (a shuffle
        job plus a result job).  The fallback for what
        :func:`_footer_file_stats` cannot answer exactly."""
        # Explicit schema: an empty snapshot has no footer to infer from.
        written = self.spark.read.schema(schema).parquet(snap_dir)
        # aggregate the key in ITS OWN type and cast after (a string
        # cast before min/max would order numeric keys lexically)
        per_col = [a for c in stat_cols for a in
                   (F.min(c).alias("__mn_%s" % c),
                    F.max(c).alias("__mx_%s" % c),
                    F.count(F.when(F.col(c).isNull(), 1))
                     .alias("__nu_%s" % c))]
        rows = (written.groupBy(F.input_file_name().alias("file"))
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.min(key).cast("string").alias("mn"),
                     F.max(key).cast("string").alias("mx"),
                     *per_col)
                .collect())
        return sorted(
            ({"file": r["file"], "cnt": r["cnt"], "mn": r["mn"],
              "mx": r["mx"],
              "stats": {c: {"min": _stat_key(r["__mn_%s" % c]),
                            "max": _stat_key(r["__mx_%s" % c]),
                            "nulls": r["__nu_%s" % c]}
                        for c in stat_cols}} for r in rows),
            key=lambda r: r["file"])

    # ------------------------------------------------------------- read

    def _manifest_for(self, table: str, snapshot_id: int | None,
                      as_of: float | None) -> dict:
        """Resolve the manifest to read: current, a pinned snapshot id,
        or the newest snapshot committed at/before ``as_of`` (epoch
        seconds) — Iceberg's VERSION AS OF / TIMESTAMP AS OF.  Only
        RETAINED snapshots are reachable: after ``expire_snapshots``
        the expired history is gone, exactly like Iceberg."""
        if snapshot_id is not None and as_of is not None:
            raise ValueError("pass snapshot_id OR as_of, not both")
        if snapshot_id is not None:
            path = self._manifest_path(table, snapshot_id)
            if not os.path.exists(path):
                raise FileNotFoundError(
                    "table %r has no retained snapshot %d (expired or "
                    "never committed)" % (table, snapshot_id))
            with open(path) as fp:
                return json.load(fp)
        if as_of is not None:
            best = None
            for fname in self._list_manifests(table):
                with open(os.path.join(self._table_dir(table),
                                       fname)) as fp:
                    m = json.load(fp)
                if m["committed_at"] <= as_of:
                    best = m          # manifests iterate oldest→newest
            if best is None:
                raise FileNotFoundError(
                    "table %r has no retained snapshot committed at or "
                    "before %s" % (table, as_of))
            return best
        manifest = self.current_manifest(table)
        if manifest is None:
            raise FileNotFoundError("no committed snapshot for table %r"
                                    % table)
        return manifest

    def read(self, table: str, snapshot_id: int | None = None,
             as_of: float | None = None) -> DataFrame:
        """Read a committed snapshot — the current one by default, a
        pinned ``snapshot_id`` (Iceberg ``VERSION AS OF``) or the one
        current at epoch-seconds ``as_of`` (``TIMESTAMP AS OF``)."""
        manifest = self._manifest_for(table, snapshot_id, as_of)
        from pyspark.sql import types as T
        dirs = manifest.get("dirs", [manifest["dir"]])
        return self.spark.read.schema(
            T.StructType.fromJson(manifest["schema"])).parquet(
            *[os.path.join(self._table_dir(table), d) for d in dirs])

    def pruned_files(self, table: str, where: dict,
                     snapshot_id: int | None = None,
                     as_of: float | None = None) -> tuple[list[dict], int]:
        """Manifest-stats file pruning (Iceberg's manifest-entry min/max
        evaluation, the zone-map idea): given ``where`` as
        ``{column: (lo, hi)}`` inclusive bounds (either side ``None`` =
        unbounded), return ``(surviving lineage entries, total file
        count)``.  A file survives unless its recorded stats PROVE no
        row can match: its [min, max] misses the bound interval, or
        every value in it is null (a BETWEEN/range predicate never
        matches null).  Files with no recorded stats for a queried
        column always survive — stats only ever skip, never decide, so
        pruning is correct on any layout and merely ineffective on a
        bad one.  Pure manifest work: zero data I/O, O(files) driver
        time — at 100 TB this is the difference between opening every
        parquet footer and opening none."""
        manifest = self._manifest_for(table, snapshot_id, as_of)
        if manifest["partition_by"]:
            # lineage records file BASENAMES; hive-partitioned snapshots
            # nest files under partition value dirs, so a per-file read
            # cannot be reconstructed — partition pruning already covers
            # those tables (Spark prunes partition dirs natively).
            raise ValueError("read_where/pruned_files support "
                             "unpartitioned tables only (%r is "
                             "partitioned; directory-level partition "
                             "pruning applies there instead)" % table)
        bounds = {c: (_stat_key(lo), _stat_key(hi))
                  for c, (lo, hi) in where.items()}
        entries = manifest["lineage"]
        kept = []
        for e in entries:
            st = e.get("stats", {})
            for c, (lo, hi) in bounds.items():
                s = st.get(c)
                if s is None:
                    continue                      # no stats: must keep
                if s["nulls"] == e["row_count"]:
                    break                         # all-null file: skip
                if s["min"] is None:              # empty file
                    break
                if lo is not None and s["max"] < lo:
                    break
                if hi is not None and s["min"] > hi:
                    break
            else:
                kept.append(e)
        return kept, len(entries)

    def read_where(self, table: str, where: dict,
                   snapshot_id: int | None = None,
                   as_of: float | None = None) -> DataFrame:
        """Stats-pruned range scan: read only the data files whose
        manifest min/max can overlap ``where`` (``{col: (lo, hi)}``
        inclusive, ``None`` = unbounded), then apply the SAME predicate
        as a residual Spark filter — stats decide which files to open,
        the filter decides which rows qualify, so the result is
        row-identical to ``read(...).filter(...)`` on every layout.
        Pair with ``write(cluster_by=[col])`` to make the skip rate
        real (see ``write``)."""
        manifest = self._manifest_for(table, snapshot_id, as_of)
        kept, _total = self.pruned_files(table, where, snapshot_id, as_of)
        from pyspark.sql import types as T
        schema = T.StructType.fromJson(manifest["schema"])
        if not kept:
            df = self.spark.createDataFrame([], schema)
        else:
            df = self.spark.read.schema(schema).parquet(
                *[os.path.join(self._table_dir(table), e["dir"], e["file"])
                  for e in kept])
        cond = F.lit(True)
        for c, (lo, hi) in where.items():
            if lo is not None:
                cond = cond & (F.col(c) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(c) <= F.lit(hi))
            if lo is None and hi is None:
                cond = cond & F.col(c).isNotNull()
        return df.filter(cond)

    def read_changes(self, table: str, from_snapshot_id: int,
                     to_snapshot_id: int | None = None,
                     with_snapshot_id: bool = False) -> DataFrame:
        """Iceberg incremental append scan: the rows committed AFTER
        ``from_snapshot_id`` up to and including ``to_snapshot_id``
        (default: current).  Reads ONLY the appended snapshot dirs —
        O(delta) data I/O, never O(table) — which is what lets a
        downstream incremental job re-derive state from just the new
        rows at 100 TB.  The span must be append-only: compaction /
        overwrite rewrites data files, so an appended-dirs diff would
        double- or under-count — detected via the dirs-prefix check and
        raised loudly, matching Iceberg's incremental-scan restriction
        (use ``snapshot_diff`` across rewrites instead).
        ``with_snapshot_id=True`` adds a ``_snapshot_id`` column
        recovered from the snapshot dir name (Iceberg's
        ``_commit_snapshot_id``) — one codegen regexp, no extra scan."""
        frm = self._manifest_for(table, from_snapshot_id, None)
        to = self._manifest_for(table, to_snapshot_id, None)
        if to["snapshot_id"] < frm["snapshot_id"]:
            raise ValueError(
                "to_snapshot_id %d precedes from_snapshot_id %d"
                % (to["snapshot_id"], frm["snapshot_id"]))
        from pyspark.sql import types as T
        from_dirs = frm.get("dirs", [frm["dir"]])
        to_dirs = to.get("dirs", [to["dir"]])
        if to_dirs[:len(from_dirs)] != from_dirs:
            raise ValueError(
                "history of table %r between snapshots %d and %d is not "
                "append-only (a compaction or overwrite rewrote data "
                "files); incremental read is undefined — use "
                "snapshot_diff instead" % (table, frm["snapshot_id"],
                                           to["snapshot_id"]))
        schema = T.StructType.fromJson(to["schema"])
        delta = to_dirs[len(from_dirs):]
        if not delta:
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(schema).parquet(
            *[os.path.join(self._table_dir(table), d) for d in delta])
        if with_snapshot_id:
            df = df.withColumn(
                "_snapshot_id",
                F.regexp_extract(F.input_file_name(),
                                 r"snap-(\d+)/", 1).cast("int"))
        return df

    def snapshot_diff(self, table: str, from_snapshot_id: int,
                      to_snapshot_id: int | None = None) -> DataFrame:
        """Multiset diff between two retained snapshots as a changelog
        frame: the ``to`` rows absent from ``from`` tagged
        ``_change_type='insert'`` plus the ``from`` rows absent from
        ``to`` tagged ``'delete'`` (Iceberg's changelog view shape).
        Works across compactions/overwrites where ``read_changes``
        refuses — at the price of scanning BOTH snapshots and one
        hash-aggregate shuffle per side (``exceptAll``); the O(delta)
        append scan is always preferred when the span qualifies."""
        frm = self.read(table, snapshot_id=from_snapshot_id)
        to = self.read(table, snapshot_id=(
            to_snapshot_id
            if to_snapshot_id is not None
            else self.current_manifest(table)["snapshot_id"]))
        return (to.exceptAll(frm)
                  .withColumn("_change_type", F.lit("insert"))
                .unionByName(frm.exceptAll(to)
                             .withColumn("_change_type", F.lit("delete"))))

    def history(self, table: str) -> DataFrame:
        """The table's retained snapshot log as a DataFrame — Iceberg's
        ``table.history()``/``snapshots`` metadata view: (snapshot_id,
        committed_at, operation, row_count, n_files), oldest first.
        Reads only manifest JSON — no data files touched."""
        rows = []
        for fname in self._list_manifests(table):
            with open(os.path.join(self._table_dir(table), fname)) as fp:
                m = json.load(fp)
            rows.append((m["snapshot_id"], float(m["committed_at"]),
                         m.get("operation", "overwrite"),
                         m["row_count"],
                         len(m.get("dirs", [m["dir"]]))))
        if not rows:
            raise FileNotFoundError("no committed snapshot for table %r"
                                    % table)
        return self.spark.createDataFrame(
            rows, "snapshot_id int, committed_at double,"
                  " operation string, row_count long, n_data_dirs int")

    def lineage(self, table: str | None = None) -> DataFrame:
        """All committed lineage rows as a queryable DataFrame
        (stage, part_id, file, input span, row_count) — the ops
        introspection surface the north_rule's per-partition lineage
        exists for."""
        rows = []
        tables = [table] if table else sorted(
            t for t in os.listdir(self.root)
            if os.path.isdir(self._table_dir(t)))
        for t in tables:
            manifest = self.current_manifest(t)
            if manifest is None:
                continue
            for part in manifest["lineage"]:
                rows.append((t, manifest["snapshot_id"], part["part_id"],
                             part["file"], part["input_min"],
                             part["input_max"], part["row_count"]))
        return self.spark.createDataFrame(
            rows, "stage string, snapshot_id int, part_id int, file string,"
                  " input_min string, input_max string, row_count long")

    # ------------------------------------------------------ maintenance

    def compact(self, table: str, target_files: int | None = None,
                rows_per_file: int = 4_000_000,
                lineage_key: str | None = None) -> dict:
        """Rewrite the current snapshot's accumulated data files into
        ONE fresh snapshot — Iceberg's ``rewrite_data_files``
        maintenance action, the cure for the small-file buildup every
        append-per-batch flow (incremental signature indexes, CDC
        merges) creates: at 100 TB a table touched by thousands of
        micro-batches otherwise degrades every scan with
        file-open/footer overhead and per-file lineage bloat.

        Row-identical by construction (one read, one write, no
        transformation — equality pytest-pinned); table properties and
        the partition spec carry over; lineage is rebuilt over the new
        files.  The commit is the same single atomic manifest rename,
        so a kill mid-compact leaves the previous snapshot current and
        the half-written dir invisible (resume-safe, same argument as
        ``write``).  ``target_files`` overrides the row-count-derived
        file budget (``ceil(row_count / rows_per_file)``).
        """
        current = self.current_manifest(table)
        if current is None:
            raise FileNotFoundError("no committed snapshot for table %r"
                                    % table)
        n_files = target_files or max(
            1, -(-current["row_count"] // int(rows_per_file)))
        df = self.read(table)
        # coalesce, not repartition: compaction must not pay a full
        # shuffle of the table — file merging is a read-concat-write
        df = df.coalesce(int(n_files))
        # the manifest keeps the COMMITTED schema verbatim: Spark's
        # parquet reader widens every nullability flag, and letting
        # that leak into the manifest would silently relax the table's
        # contract on every compaction
        return self._write_snapshot(
            table, df, current["partition_by"] or None, lineage_key,
            dict(current["properties"]), base=None,
            schema_json=current["schema"], operation="replace",
            stats_columns=current.get("stats_columns") or None,
            cluster_by=current.get("cluster_by") or None)

    def expire_snapshots(self, table: str, keep_last: int = 1,
                         older_than: float | None = None) -> dict:
        """Drop old manifests and delete every snapshot directory no
        KEPT manifest references — Iceberg's ``expire_snapshots`` +
        ``remove_orphan_files``.  The last ``keep_last`` manifests are
        always kept; with ``older_than`` (epoch seconds — Iceberg's
        ``older_than`` timestamp), manifests committed AT OR AFTER the
        cutoff are additionally retained, so only history that is both
        beyond ``keep_last`` and genuinely old is dropped (manifests
        predating the ``committed_at`` field count as age 0 — old).
        Append chains share directories across manifests, so directory
        removal is reference-counted against the kept set.  Returns
        ``{kept_manifests, removed_dirs}``."""
        if keep_last < 1:
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        tdir = self._table_dir(table)
        manifests = self._list_manifests(table)
        if not manifests:
            raise FileNotFoundError("no committed snapshot for table %r"
                                    % table)
        kept, dropped = list(manifests[-keep_last:]), []
        for name in manifests[:-keep_last]:
            if older_than is not None:
                with open(os.path.join(tdir, name)) as fp:
                    committed = json.load(fp).get("committed_at", 0.0)
                if committed >= older_than:
                    kept.append(name)
                    continue
            dropped.append(name)
        referenced: set[str] = set()
        for name in kept:
            with open(os.path.join(tdir, name)) as fp:
                m = json.load(fp)
            referenced.update(m.get("dirs", [m["dir"]]))
        for name in dropped:
            os.remove(os.path.join(tdir, name))
        removed = []
        for entry in sorted(os.listdir(tdir)):
            path = os.path.join(tdir, entry)
            if (os.path.isdir(path) and entry.startswith("snap-")
                    and entry not in referenced):
                shutil.rmtree(path, ignore_errors=True)
                removed.append(entry)
        return {"kept_manifests": len(kept), "removed_dirs": removed}

    def file_stats(self, table: str) -> dict:
        """Manifest-only file statistics — no data pass: ``{n_files,
        row_count, median_rows, min_rows}`` over the current snapshot's
        data files.  What compaction POLICY decisions key on."""
        current = self.current_manifest(table)
        if current is None:
            raise FileNotFoundError("no committed snapshot for table %r"
                                    % table)
        counts = sorted(p["row_count"] for p in current["lineage"]) or [0]
        n = len(counts)
        median = (counts[n // 2] if n % 2
                  else (counts[n // 2 - 1] + counts[n // 2]) / 2.0)
        return {"n_files": n, "row_count": current["row_count"],
                "median_rows": median, "min_rows": counts[0]}

    def needs_compaction(self, table: str, max_files: int | None = None,
                         min_rows_per_file: int | None = None) -> bool:
        """Manifest-stat compaction policy (Iceberg's
        ``rewrite_data_files`` trigger conditions): True when the
        current snapshot holds more than ``max_files`` data files, or
        when the MEDIAN file has fewer than ``min_rows_per_file`` rows
        (median, not mean — one legitimately large seed file must not
        mask a tail of per-batch slivers).  With neither bound given
        the answer is False: an unconditional sweep stays an explicit
        ``compact()`` call."""
        stats = self.file_stats(table)
        if max_files is not None and stats["n_files"] > int(max_files):
            return True
        if (min_rows_per_file is not None
                and stats["median_rows"] < int(min_rows_per_file)):
            return True
        return False

    def maintain(self, table: str, max_files: int | None = None,
                 min_rows_per_file: int | None = None,
                 keep_last: int = 1, older_than: float | None = None,
                 rows_per_file: int = 4_000_000) -> dict:
        """Policy-driven maintenance: compact IFF the manifest stats
        say so (:meth:`needs_compaction` — with no bounds given,
        always), verify the rewrite preserved the row count BEFORE any
        history is dropped, then expire snapshots.  The decision reads
        only the manifest, so calling this every micro-batch costs one
        JSON read when the policy says no.  Returns ``{compacted,
        files_before, files_after, rows, dirs_removed}``."""
        before = self.file_stats(table)
        unconditional = max_files is None and min_rows_per_file is None
        if not (unconditional or self.needs_compaction(
                table, max_files, min_rows_per_file)):
            return {"compacted": False, "files_before": before["n_files"],
                    "files_after": before["n_files"],
                    "rows": before["row_count"], "dirs_removed": 0}
        m = self.compact(table, rows_per_file=rows_per_file)
        if m["row_count"] != before["row_count"]:
            raise RuntimeError(
                "compaction changed row count for %s: %d -> %d; "
                "refusing to expire pre-compaction snapshots"
                % (table, before["row_count"], m["row_count"]))
        gc = self.expire_snapshots(table, keep_last=keep_last,
                                   older_than=older_than)
        return {"compacted": True, "files_before": before["n_files"],
                "files_after": len(m["lineage"]),
                "rows": m["row_count"],
                "dirs_removed": len(gc["removed_dirs"])}

    # ------------------------------------------------- schema evolution

    def add_columns(self, table: str, new_fields: dict) -> dict:
        """Iceberg ``ALTER TABLE … ADD COLUMNS`` — METADATA-ONLY
        schema evolution: commit a new manifest whose schema appends
        the given ``{name: spark-ddl-type}`` fields (always nullable,
        as Iceberg requires for added columns) while referencing the
        SAME data dirs.  No data file is touched: the read path always
        supplies the manifest schema explicitly, and Spark's parquet
        reader fills columns absent from a file with nulls — so
        pre-evolution files read as null in the new columns, exactly
        Iceberg's contract.  Appends after the evolution must carry
        the new shape.  Time travel composes: each retained snapshot
        keeps ITS schema, so reading an old snapshot shows the old
        columns."""
        from pyspark.sql import types as T
        current = self.current_manifest(table)
        if current is None:
            raise FileNotFoundError("no committed snapshot for table %r"
                                    % table)
        schema = T.StructType.fromJson(current["schema"])
        existing = {f.name for f in schema.fields}
        for name, ddl in new_fields.items():
            if name in existing:
                raise ValueError("column %r already exists in %r"
                                 % (name, table))
            schema = schema.add(name, ddl, nullable=True)
        return self._commit_schema(table, current, schema.jsonValue())

    def drop_columns(self, table: str, names) -> dict:
        """Iceberg ``ALTER TABLE … DROP COLUMN`` — metadata-only: the
        new manifest's schema omits the columns; data files still hold
        the bytes (schema projection skips them on read) until a
        compaction physically rewrites.  Dropped columns are also
        removed from ``stats_columns`` (their zone maps die with
        them).  Dropping a column that some retained snapshot needs is
        fine — time travel reads use that snapshot's own schema."""
        from pyspark.sql import types as T
        if isinstance(names, str):
            names = [names]
        current = self.current_manifest(table)
        if current is None:
            raise FileNotFoundError("no committed snapshot for table %r"
                                    % table)
        schema = T.StructType.fromJson(current["schema"])
        missing = [n for n in names if n not in schema.fieldNames()]
        if missing:
            raise ValueError("cannot drop absent columns %s from %r"
                             % (missing, table))
        keep = [f for f in schema.fields if f.name not in set(names)]
        if not keep:
            raise ValueError("cannot drop every column of %r" % table)
        return self._commit_schema(
            table, current, T.StructType(keep).jsonValue(),
            drop_stats=set(names))

    def _commit_schema(self, table: str, current: dict,
                       schema_json: dict,
                       drop_stats: set | None = None) -> dict:
        """Commit an ``alter`` snapshot: same dirs, same lineage, new
        schema — one atomic manifest rename, zero data I/O."""
        manifest = dict(current)
        manifest["snapshot_id"] = current["snapshot_id"] + 1
        manifest["schema"] = schema_json
        manifest["operation"] = "alter"
        manifest["committed_at"] = time.time()
        if drop_stats:
            manifest["stats_columns"] = [
                c for c in current.get("stats_columns", [])
                if c not in drop_stats]
            manifest["lineage"] = [
                {**e, **({"stats": {c: s for c, s in e["stats"].items()
                                    if c not in drop_stats}}
                         if "stats" in e else {})}
                for e in current["lineage"]]
        path = self._manifest_path(table, manifest["snapshot_id"])
        tmp = path + ".tmp"
        with open(tmp, "w") as fp:
            json.dump(manifest, fp, indent=1)
        os.replace(tmp, path)
        return manifest

    # ---------------------------------------------------------- cleanup

    def drop(self, table: str) -> None:
        shutil.rmtree(self._table_dir(table), ignore_errors=True)

    def invalidate(self, table: str) -> None:
        """Remove the commit record but keep data dirs — simulates a
        kill between data write and manifest commit (for resume tests)."""
        tdir = self._table_dir(table)
        for name in self._list_manifests(table):
            os.remove(os.path.join(tdir, name))
