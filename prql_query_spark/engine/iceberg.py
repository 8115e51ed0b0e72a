"""Pure-Python Apache Iceberg snapshot reader + minimal writer: the last
gated source, made live in both directions.

An Iceberg table is self-describing on disk (public spec, iceberg
table-spec): `metadata/v*.metadata.json` (or any `*.metadata.json`,
newest wins / `version-hint.text`) names the current snapshot, whose
`manifest-list` is an Avro file of manifest entries, each pointing at a
manifest Avro file of data-file entries, which finally point at parquet
files.  With `engine/avro.py` decoding the Avro layers and the schema
taken from the metadata JSON, the whole chain needs no connector jar —
the same stay-live-everywhere pattern as deltalog/pgwire/avro.

Supported subset, loudly enforced: format v1 and v2 append/overwrite
tables with parquet data files; v2 POSITIONAL delete files are merged
on read (sequence-number scoped); equality deletes and non-identity
partition transforms whose source columns are absent from the data
files raise a clear error instead of wrong rows (identity partitioning
stores the columns in the files, which Spark reads directly).

The writer (`write_iceberg`) is the inverse at the same subset: v2
create / append / overwrite snapshots — Spark writes the parquet data
files distributed, the driver assembles only the tiny metadata chain
(new manifest -> manifest-list carrying all prior manifests -> new
metadata JSON with parent-snapshot-id).  `delete_iceberg` closes the
CRUD loop by committing v2 positional delete files (the merge-on-read
shape the reader already applies); `expire_snapshots`,
`compact_iceberg`, and `remove_orphan_files` are the maintenance
actions.  Catalog-level commits (atomic swap, concurrent-writer
retries) remain connector-jar territory — this is the single-writer
lakehouse subset, matching the Delta side.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, DataType, DateType, DoubleType,
    FloatType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampNTZType, TimestampType,
)

from prql_query_spark.engine.avro import decode_container
from prql_query_spark.engine.pruning import keep_files


class IcebergError(ValueError):
    pass


def _latest_metadata(path: str) -> str:
    mdir = os.path.join(path, "metadata")
    if not os.path.isdir(mdir):
        raise IcebergError(f"{path} has no metadata/ dir — not an iceberg table")
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as fh:
            v = fh.read().strip()
        for cand in (f"v{v}.metadata.json", f"{v}.metadata.json"):
            p = os.path.join(mdir, cand)
            if os.path.exists(p):
                return p
    metas = [f for f in os.listdir(mdir) if f.endswith(".metadata.json")]
    if not metas:
        raise IcebergError(f"no *.metadata.json under {mdir}")

    def key(f):
        m = re.search(r"(\d+)", f)
        return int(m.group(1)) if m else -1

    return os.path.join(mdir, max(metas, key=key))


def _resolve(path_str: str, table_path: str) -> str:
    """Iceberg stores absolute file: URIs; re-anchor onto the local table
    dir so relocated/copied tables still read."""
    p = path_str
    if p.startswith("file:"):
        p = re.sub(r"^file:(//)?", "", p)
    if os.path.exists(p):
        return p
    # re-anchor: take everything after the table dir's basename
    base = os.path.basename(table_path.rstrip("/"))
    idx = p.find(f"/{base}/")
    if idx >= 0:
        cand = os.path.join(table_path, p[idx + len(base) + 2:])
        if os.path.exists(cand):
            return cand
    raise IcebergError(f"referenced file not found: {path_str}")


def _spark_type(t) -> DataType:
    if isinstance(t, dict):
        if t.get("type") == "struct":
            return StructType([
                StructField(f["name"], _spark_type(f["type"]),
                            not f.get("required", False))
                for f in t["fields"]
            ])
        if t.get("type") == "list":
            return ArrayType(_spark_type(t["element"]),
                             containsNull=not t.get("element-required", False))
        raise IcebergError(f"unsupported iceberg type {t!r}")
    if isinstance(t, str):
        if t.startswith("decimal"):
            from pyspark.sql.types import DecimalType

            m = re.match(r"decimal\((\d+),\s*(\d+)\)", t)
            return DecimalType(int(m.group(1)), int(m.group(2)))
        base = {
            "boolean": BooleanType(), "int": IntegerType(),
            "long": LongType(), "float": FloatType(),
            "double": DoubleType(), "date": DateType(),
            # spec: "timestamp" is WITHOUT zone, "timestamptz" with —
            # mapping both to TimestampType silently shifted ntz values
            # through the session zone (r11)
            "timestamp": TimestampNTZType(), "timestamptz": TimestampType(),
            "string": StringType(), "binary": BinaryType(),
            "uuid": StringType(),
        }.get(t)
        if base is None:
            raise IcebergError(f"unsupported iceberg type {t!r}")
        return base
    raise IcebergError(f"unsupported iceberg type {t!r}")


def _table_schema(meta: dict) -> StructType:
    """Spark schema of the table's current iceberg schema: v2 keeps a
    list + current-schema-id; v1 a single "schema".

    Rename-evolution guard: this reader resolves parquet columns BY
    NAME against the current schema (real Iceberg resolves by field
    id).  Add-column evolution is safe by name (files missing the new
    column read nulls — the spec's semantics), but a RENAMED column
    (same field id, new name across the metadata's schema history)
    means older data files still carry the old parquet column name, so
    a by-name read would silently return nulls where data exists — the
    wrong-rows outcome this module never permits.  The history is in
    the metadata JSON, so the check is driver-side and metadata-only:
    any field id whose name differs across schemas raises."""
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        ice_schema = next(
            s for s in meta["schemas"] if s.get("schema-id", 0) == sid)
        names_by_id: dict[int, set[str]] = {}
        for s in meta["schemas"]:
            for f in s.get("fields", []):
                if f.get("id") is not None:
                    names_by_id.setdefault(f["id"], set()).add(f["name"])
        renamed = sorted(
            "/".join(sorted(v)) for v in names_by_id.values() if len(v) > 1)
        if renamed:
            raise IcebergError(
                f"table schema history renames columns ({renamed}) — "
                "this by-name reader would silently read nulls from "
                "pre-rename data files; field-id resolution needs the "
                "Iceberg connector")
    else:
        ice_schema = meta["schema"]
    return StructType([
        StructField(f["name"], _spark_type(f["type"]),
                    not f.get("required", False))
        for f in ice_schema["fields"]
    ])


def _walk_manifests(
    snap: dict, path: str
) -> tuple[list[tuple[str, object]], list[tuple[str, object]], dict, dict]:
    """Resolve a snapshot's manifest chain into
    ``(data_files, pos_deletes, partitions, bounds)`` — the first two
    lists of ``(resolved path, seq)``, then ``{resolved path:
    partition values dict}`` for manifest entries that carry the
    spec's ``partition`` struct and ``{resolved path: (lower, upper)}``
    per-column stats maps for entries that carry bounds (absent for
    external manifests this codec cannot see metadata in — readers
    fall back to scanning every file).

    Sequence-number inheritance follows the spec: an entry without an
    explicit data_sequence_number/sequence_number inherits the
    manifest-list entry's sequence number ONLY when it is ADDED
    (status=1) — the entry was written in the manifest's own snapshot.
    An EXISTING (status=0) entry without explicit numbers is malformed
    metadata; inheriting the newer manifest's seq would inflate the
    data file past older positional deletes and silently resurrect
    rows, so it yields None and the delete-application guard raises
    when the table carries delete files."""
    with open(_resolve(snap["manifest-list"], path), "rb") as fh:
        _s, manifests = decode_container(fh.read())

    def entry_seq(e: dict, m: dict):
        for k in ("data_sequence_number", "sequence_number"):
            if e.get(k) is not None:
                return e[k]
        return m.get("sequence_number") if e.get("status") == 1 else None

    data_files: list[tuple[str, object]] = []   # (resolved path, seq)
    pos_deletes: list[tuple[str, object]] = []  # (resolved path, seq)
    partitions: dict[str, dict] = {}            # resolved path -> values
    bounds: dict[str, tuple] = {}               # resolved path -> (lo, hi)
    for m in manifests:
        is_delete_manifest = m.get("content", 0) == 1
        with open(_resolve(m["manifest_path"], path), "rb") as fh:
            _s2, entries = decode_container(fh.read())
        for e in entries:
            if e.get("status") == 2:  # DELETED entry
                continue
            df_info = e["data_file"]
            content = df_info.get("content", 0) or 0
            fmt = (df_info.get("file_format") or "PARQUET").upper()
            if fmt != "PARQUET":
                raise IcebergError(
                    f"file format {fmt} not supported (parquet only)")
            if is_delete_manifest or content in (1, 2):
                if content == 2:
                    raise IcebergError(
                        "equality delete files are not supported by the "
                        "pure-Python reader — deploy the Iceberg connector")
                if content != 1:
                    raise IcebergError(
                        "malformed delete manifest: entry carries a "
                        "non-delete data file (content=0) — refusing to "
                        "guess which rows it removes")
                pos_deletes.append(
                    (_resolve(df_info["file_path"], path), entry_seq(e, m)))
            else:
                rp = _resolve(df_info["file_path"], path)
                data_files.append((rp, entry_seq(e, m)))
                pv = df_info.get("partition")
                if isinstance(pv, dict):
                    partitions[rp] = pv
                lo = df_info.get("lower_bounds")
                hi = df_info.get("upper_bounds")
                if isinstance(lo, dict) and isinstance(hi, dict):
                    bounds[rp] = (lo, hi)
    return data_files, pos_deletes, partitions, bounds


def _identity_part_fields(meta: dict) -> list[tuple[str, DataType]]:
    """(source column name, spark type) for each identity field of the
    table's DEFAULT partition spec, resolved through schema field ids.
    Empty for unpartitioned tables; unresolvable source ids simply drop
    out (pruning then falls back to scanning every file)."""
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        ice_schema = next(
            s for s in meta["schemas"] if s.get("schema-id", 0) == sid)
    else:
        ice_schema = meta.get("schema") or {"fields": []}
    by_id = {f.get("id"): f for f in ice_schema["fields"]}
    spec_id = meta.get("default-spec-id", 0)
    spec = next(
        (s for s in meta.get("partition-specs") or []
         if s.get("spec-id", 0) == spec_id), None) or {"fields": []}
    out = []
    for f in spec.get("fields", []):
        if f.get("transform", "identity") != "identity":
            continue
        src = by_id.get(f.get("source-id"))
        if src is not None:
            out.append((src["name"], _spark_type(src["type"])))
    return out


def read_iceberg(
    spark: SparkSession, path: str, snapshot_id: int | None = None,
    where: str | None = None
) -> DataFrame:
    """Read an Iceberg table directory at its current (or a given)
    snapshot without the connector jar.

    ``where`` (optional) is any Spark SQL boolean expression; it is
    ALWAYS applied as a row filter, and its conjuncts over the identity
    partition columns or the manifests' min/max bounds additionally
    skip whole data files at the manifest level (`pruning.keep_files`)
    — the metadata-only scan elimination that makes partitioned
    Iceberg tables work at 100 TB (a day-partitioned predicate reads
    one day's files, not the table)."""
    meta_path = _latest_metadata(path)
    with open(meta_path) as fh:
        meta = json.load(fh)
    spark_schema = _table_schema(meta)

    snaps = meta.get("snapshots") or []
    if not snaps:
        return spark.createDataFrame([], spark_schema)
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
    snap = next(
        (s for s in snaps if s["snapshot-id"] == snapshot_id), None)
    if snap is None:
        raise IcebergError(f"snapshot {snapshot_id} not in {meta_path}")

    # non-identity partition transforms hide source columns from files
    for spec in meta.get("partition-specs", []) or []:
        for f in spec.get("fields", []):
            if f.get("transform", "identity") not in ("identity", "void"):
                raise IcebergError(
                    f"partition transform {f['transform']!r} is not supported "
                    "by the pure-Python reader (identity only) — deploy the "
                    "Iceberg connector for hidden partitioning"
                )

    data_files, pos_deletes, partitions, bounds = _walk_manifests(snap, path)

    if where:
        keep = keep_files(
            spark, spark_schema, [c for c, _t in _identity_part_fields(meta)],
            {p: (partitions.get(p), *bounds.get(p, (None, None)))
             for p, _s in data_files}, where)
        if keep is not None:
            data_files = [t for t in data_files if t[0] in keep]
    if not data_files:
        out = spark.createDataFrame([], spark_schema)
        return out.filter(where) if where else out
    paths = sorted({p for p, _ in data_files})
    base = spark.read.schema(spark_schema).parquet(*paths)
    if pos_deletes:
        # delete files referencing pruned-out data files are inert: the
        # anti-join keys on the surviving files' paths only
        base = _apply_position_deletes(
            spark, base, spark_schema, path, data_files, pos_deletes)
    return base.filter(where) if where else base


def _norm_uri(p: str) -> str:
    return re.sub(r"^file:(//)?", "", p)


def _deletes_set(
    spark: SparkSession,
    table_path: str,
    data_files: list,
    pos_deletes: list,
) -> DataFrame:
    """The distinct ``(_rfp, _pos)`` rows the snapshot's positional
    delete files remove, sequence-scoped per the spec (a delete applies
    to data files whose data seq <= the delete file's seq).  Shared by
    the merge-on-read path and `delete_iceberg` (which must not re-count
    already-deleted rows)."""
    if any(s is None for _, s in data_files) \
            or any(s is None for _, s in pos_deletes):
        raise IcebergError(
            "table carries positional delete files but sequence numbers "
            "are missing from its manifests — cannot scope which deletes "
            "apply to which data files; deploy the Iceberg connector")

    seqs: dict[str, int] = {}
    for p, s in data_files:
        seqs[_norm_uri(p)] = max(int(s), seqs.get(_norm_uri(p), -1))
    seq_df = spark.createDataFrame(
        [(k, v) for k, v in seqs.items()], "_rfp string, _dseq long")

    dels = None
    for dp, dseq in pos_deletes:
        d = spark.read.parquet(dp).select(
            F.col("file_path").alias("_dfp"),
            F.col("pos").cast("long").alias("_pos"),
            F.lit(int(dseq)).alias("_sseq"))
        dels = d if dels is None else dels.unionByName(d)
    targets = [r["_dfp"] for r in dels.select("_dfp").distinct().collect()]
    mapping = []
    for fp in targets:
        try:
            mapping.append((fp, _norm_uri(_resolve(fp, table_path))))
        except IcebergError:
            mapping.append((fp, _norm_uri(fp)))  # names no live file: inert
    map_df = spark.createDataFrame(mapping, "_dfp string, _rfp string")
    return (
        dels.join(F.broadcast(map_df), "_dfp")
        .join(F.broadcast(seq_df), "_rfp")
        .filter(F.col("_sseq") >= F.col("_dseq"))
        .select("_rfp", "_pos").distinct()
    )


def _apply_position_deletes(
    spark: SparkSession,
    base: DataFrame,
    spark_schema: StructType,
    table_path: str,
    data_files: list,
    pos_deletes: list,
) -> DataFrame:
    """v2 merge-on-read: drop the (file, pos) rows named by positional
    delete files.  Positions match via Spark's ``_metadata.row_index``
    — the per-file row ordinal, the same definition as the spec's
    ``pos`` — so no connector jar is needed.

    Scoping follows the spec: a positional delete applies to rows of
    data files whose data sequence number is <= the delete file's
    sequence number.  Sequence numbers are REQUIRED once any delete
    file exists (explicit on the entry, or inherited from the
    manifest-list entry); a table carrying deletes without them raises
    — unscoped application could delete rows a later rewrite
    resurrected, the silent-wrong-rows outcome this module never
    permits.  Delete-file ``file_path`` values are re-anchored through
    the same `_resolve` as every other reference, so relocated/copied
    tables still read; the distinct delete-target list is
    metadata-scale (<= the table's data-file count), the only
    driver-side materialization here.  The anti-join is a plain
    shuffle join — delete sets can rival data size at 100 TB, so no
    forced broadcast (AQE picks one when they are small)."""
    dels = _deletes_set(spark, table_path, data_files, pos_deletes)
    cols = [f.name for f in spark_schema.fields]
    out = base.select(
        *cols,
        F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
        .alias("_rfp"),
        F.col("_metadata.row_index").alias("_pos"))
    return out.join(dels, ["_rfp", "_pos"], "left_anti").select(*cols)


def _iceberg_type(t: DataType) -> object:
    """Invert _spark_type for the writer: Spark DataType -> iceberg type
    (string for primitives, dict for list)."""
    from pyspark.sql.types import DecimalType

    if isinstance(t, StructType):
        raise IcebergError("nested struct columns not supported by the "
                           "minimal writer — flatten first")
    if isinstance(t, ArrayType):
        return {"type": "list", "element-id": 0,
                "element": _iceberg_type(t.elementType),
                "element-required": not t.containsNull}
    if isinstance(t, DecimalType):
        return f"decimal({t.precision},{t.scale})"
    base = {
        BooleanType(): "boolean", IntegerType(): "int", LongType(): "long",
        FloatType(): "float", DoubleType(): "double", DateType(): "date",
        TimestampType(): "timestamptz", TimestampNTZType(): "timestamp",
        StringType(): "string",
        BinaryType(): "binary",
    }.get(t)
    if base is None:
        raise IcebergError(f"unsupported spark type for iceberg: {t}")
    return base


_BOUNDS_MAP = ["null", {"type": "map", "values": ["null", "string"]}]

_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "data_file", "type": {
            "type": "record", "name": "data_file", "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
                {"name": "lower_bounds", "type": _BOUNDS_MAP,
                 "default": None},
                {"name": "upper_bounds", "type": _BOUNDS_MAP,
                 "default": None},
            ]}},
    ]}


def _file_bounds(md) -> tuple[dict | None, dict | None]:
    """Per-column min/max for one data file, from the parquet footer
    already in hand (zero extra I/O) — the spec's lower_bounds /
    upper_bounds idea, keyed by column name with string-serialized
    values (this codec's own manifests are its only consumers).  Type
    and exactness rules live in `engine.pruning.footer_bounds` (shared
    with the Delta add-action stats)."""
    from prql_query_spark.engine.pruning import footer_bounds

    lo, hi, _nulls = footer_bounds(md)
    if not lo:
        return None, None

    def ser(v):
        return v.isoformat() if hasattr(v, "isoformat") else repr(v)

    return ({k: ser(v) for k, v in lo.items()},
            {k: ser(v) for k, v in hi.items()})

_ML_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "content", "type": "int"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "sequence_number", "type": "long"},
    ]}


_PART_AVRO_TYPE = {
    IntegerType(): "int", LongType(): "long", StringType(): "string",
    DateType(): "int",  # iceberg/avro date encoding: days since epoch
}


def _write_manifest(
    meta_dir: str, parts: list, content: int = 0,
    part_fields: list[tuple[str, DataType]] | None = None,
) -> str:
    """One manifest Avro naming the given parquet parts (``content=0``
    data files, ``content=1`` positional delete files); returns its
    path.  ``parts`` entries are paths, or ``(path, partition values
    dict)`` pairs when ``part_fields`` names the table's identity
    partition columns — the values are written as the spec's
    ``partition`` struct on each data_file (spec names the record r102),
    typed per the source column (nullable unions), which is what makes
    manifest-level pruning possible on read."""
    import uuid

    import pyarrow.parquet as pq

    from prql_query_spark.engine.avro import encode_container

    schema = _ENTRY_SCHEMA
    if part_fields:
        df_fields = list(_ENTRY_SCHEMA["fields"][1]["type"]["fields"]) + [{
            "name": "partition", "type": ["null", {
                "type": "record", "name": "r102", "fields": [
                    {"name": c, "type": ["null", _PART_AVRO_TYPE[t]],
                     "default": None}
                    for c, t in part_fields
                ]}], "default": None}]
        schema = {
            "type": "record", "name": "manifest_entry", "fields": [
                _ENTRY_SCHEMA["fields"][0],
                {"name": "data_file", "type": {
                    "type": "record", "name": "data_file",
                    "fields": df_fields}},
            ]}

    entries = []
    for item in parts:
        p, pvals = item if isinstance(item, tuple) else (item, None)
        md = pq.read_metadata(p)
        if md.num_rows == 0:
            continue  # empty-partition part files carry no data (r3 lesson)
        rec = {"content": content, "file_path": f"file://{p}",
               "file_format": "PARQUET", "record_count": md.num_rows,
               "file_size_in_bytes": os.path.getsize(p),
               "lower_bounds": None, "upper_bounds": None}
        if content == 0:
            rec["lower_bounds"], rec["upper_bounds"] = _file_bounds(md)
        if part_fields:
            rec["partition"] = {
                c: (pvals or {}).get(c) for c, _t in part_fields}
        entries.append({"status": 1, "data_file": rec})
    man_path = os.path.join(meta_dir, f"man-{uuid.uuid4().hex}.avro")
    with open(man_path, "wb") as fh:
        fh.write(encode_container(schema, entries))
    return man_path


def _write_data_files(
    df: DataFrame, data_dir: str,
    part_fields: list[tuple[str, DataType]],
    distribute: bool = True,
) -> list[tuple[str, dict | None]]:
    """Stage a DataFrame's parquet data files under ``data_dir`` and
    return ``(path, partition values)`` pairs for the manifest.

    Partitioned staging uses Spark's own ``partitionBy`` — fully
    distributed, one job — but on ALIAS columns (``__pq_p<i>``)
    holding a HEX encoding of each partition value, so the hive layout
    carries the values in directory names while the ORIGINAL columns
    stay inside every data file, which is both what real Iceberg
    writers do for identity partitions and what this module's reader
    requires.  Each resulting file holds exactly one partition tuple
    (the spec's requirement for the manifest ``partition`` struct).

    Hex, not raw values, because directory names become part of
    ``_metadata.file_path``, and Spark reports that as a URI — a raw
    value with a space would surface as ``%20`` on the scan side while
    the manifest stores the filesystem path, silently de-keying the
    positional-delete join (rows a DELETE removed would resurrect —
    caught by the x_iceberg_partition oracle during r11).  Hex dir
    names ([0-9a-f], 'x'-prefixed so an empty string stays distinct
    from the null dir) make URI == filesystem path by construction,
    so every downstream (file, pos) join key stays verbatim.  The
    true values are decoded driver-side for the manifest —
    metadata-scale work."""
    import datetime
    import glob

    if not part_fields:
        df.write.mode("errorifexists").parquet(data_dir)
        return [(p, None) for p in sorted(
            glob.glob(os.path.join(data_dir, "part-*.parquet")))]

    staged = df
    aliases = []
    for i, (c, _t) in enumerate(part_fields):
        a = f"__pq_p{i}"
        staged = staged.withColumn(
            a, F.concat(F.lit("x"), F.lower(
                F.hex(F.encode(F.col(c).cast("string"), "UTF-8")))))
        aliases.append(a)
    # repartition ON the partition values first (hash distribution —
    # real Iceberg's write.distribution-mode=hash, and the same guard
    # as writers.write_partitioned): naive partitionBy makes every
    # task write a file into EVERY partition it sees — tasks ×
    # partitions small files, the classic layout killer.  One writer
    # per partition tuple; heavily skewed single partitions trade
    # write parallelism for file count, which compact_iceberg can
    # re-split later.  ``distribute=False`` is for callers that OWN
    # the layout (compact_iceberg's sort_by rewrite) — their range
    # clustering must survive to the files.
    if distribute:
        staged = staged.repartition(*[F.col(a) for a in aliases])
    (staged.write.mode("errorifexists").partitionBy(*aliases)
           .parquet(data_dir))

    def parse(raw: str, typ: DataType):
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return None
        v = bytes.fromhex(raw[1:]).decode("utf-8")
        if isinstance(typ, DateType):
            d = datetime.date.fromisoformat(v)
            return (d - datetime.date(1970, 1, 1)).days
        if isinstance(typ, (IntegerType, LongType)):
            return int(v)
        return v

    out: list[tuple[str, dict | None]] = []
    for root, _dirs, files in os.walk(data_dir):
        for f in sorted(files):
            if not (f.startswith("part-") and f.endswith(".parquet")):
                continue
            rel = os.path.relpath(root, data_dir)
            comps = dict(
                seg.split("=", 1) for seg in rel.split(os.sep) if "=" in seg)
            pvals = {}
            for i, (c, t) in enumerate(part_fields):
                key = f"__pq_p{i}"
                if key not in comps:
                    raise IcebergError(
                        f"staged file {f} missing partition dir for {c!r}")
                pvals[c] = parse(comps[key], t)
            out.append((os.path.join(root, f), pvals))
    return sorted(out)


def _schema_fields(df: DataFrame) -> list[dict]:
    return [
        {"id": i + 1, "name": f.name, "required": not f.nullable,
         "type": _iceberg_type(f.dataType)}
        for i, f in enumerate(df.schema.fields)
    ]


def _resolve_part_fields(
    df: DataFrame, partition_by: list[str]
) -> list[tuple[str, DataType]]:
    """Validate requested identity partition columns against the
    DataFrame schema: they must exist and be of a partition-able type
    (int/long/string/date — timestamps are near-unique and belong under
    a bucket/day transform, which needs the connector jar)."""
    out = []
    for c in partition_by:
        f = next((f for f in df.schema.fields if f.name == c), None)
        if f is None:
            raise IcebergError(
                f"partition column {c!r} not in schema "
                f"{[x.name for x in df.schema.fields]}")
        if f.dataType not in _PART_AVRO_TYPE:
            raise IcebergError(
                f"partition column {c!r} has type {f.dataType} — identity "
                "partitioning supports int/long/string/date (timestamps "
                "need a day/hour transform: connector-jar territory)")
        out.append((c, f.dataType))
    return out


def _declared_part_fields(
    meta: dict, meta_path: str
) -> list[tuple[str, DataType]]:
    """The table's declared identity partition fields, for writers to
    inherit — raising if the default spec carries any non-identity
    transform (this writer cannot produce those partition values)."""
    spec_id = meta.get("default-spec-id", 0)
    spec = next(
        (s for s in meta.get("partition-specs") or []
         if s.get("spec-id", 0) == spec_id), None) or {"fields": []}
    bad = [f["transform"] for f in spec.get("fields", [])
           if f.get("transform", "identity") not in ("identity", "void")]
    if bad:
        raise IcebergError(
            f"table {meta_path} declares partition transforms {bad} — "
            "this writer supports identity partitioning only")
    return _identity_part_fields(meta)


def _evolve_schema(
    meta: dict, meta_path: str, cur_schema: dict, df: DataFrame
) -> None:
    """ADD-column schema evolution, the one evolution a by-name reader
    serves correctly (old data files read the new columns as null —
    the spec's own semantics; renames/drops/type changes are refused,
    see `_table_schema`'s rename guard).  The DataFrame must carry
    every current column with its exact iceberg type, plus only NEW
    nullable columns; the new schema entry keeps existing field ids,
    assigns fresh ids past the table-wide max to the additions, and
    becomes current in the SAME snapshot commit (mutates ``meta``,
    which `_commit_snapshot` then writes)."""
    cur_by_name = {f["name"]: f for f in cur_schema["fields"]}
    new_fields: list[dict] = []
    seen = set()
    for f in df.schema.fields:
        ice_t = _iceberg_type(f.dataType)
        old = cur_by_name.get(f.name)
        if old is not None:
            if old["type"] != ice_t:
                raise IcebergError(
                    f"schema evolution cannot change column {f.name!r} "
                    f"from {old['type']} to {ice_t} — type promotion "
                    "needs the connector jar")
            seen.add(f.name)
        else:
            if not f.nullable:
                raise IcebergError(
                    f"new column {f.name!r} must be nullable — existing "
                    "rows have no value for it")
            new_fields.append(f.name)
    missing = [n for n in cur_by_name if n not in seen]
    if missing:
        raise IcebergError(
            f"schema evolution cannot DROP columns ({missing}) — only "
            "adding nullable columns is supported")
    if not new_fields:
        raise IcebergError(
            "schema evolution requested but the DataFrame adds no new "
            "columns (same names, different order is not an evolution)")

    max_id = max(
        (f["id"] for s in meta.get("schemas", [cur_schema])
         for f in s.get("fields", []) if f.get("id") is not None),
        default=len(cur_schema["fields"]))
    fields = [dict(cur_by_name[f.name]) if f.name in cur_by_name else None
              for f in df.schema.fields]
    nid = max_id
    for i, f in enumerate(df.schema.fields):
        if fields[i] is None:
            nid += 1
            fields[i] = {"id": nid, "name": f.name, "required": False,
                         "type": _iceberg_type(f.dataType)}
    new_sid = max(
        (s.get("schema-id", 0) for s in meta.get("schemas", [])),
        default=0) + 1
    meta.setdefault("schemas", [dict(cur_schema, **{"schema-id": 0})])
    meta["schemas"].append(
        {"schema-id": new_sid, "type": "struct", "fields": fields})
    meta["current-schema-id"] = new_sid
    meta["last-column-id"] = nid


def write_iceberg(
    df: DataFrame,
    path: str,
    mode: str = "create",
    properties: dict | None = None,
    partition_by: list[str] | None = None,
    evolve_schema: bool = False,
    _distribute: bool = True,
) -> None:
    """Minimal jar-less Iceberg v2 APPEND writer — the inverse of
    read_iceberg, same supported subset (parquet data files, unpartitioned,
    no deletes).  Data files are written DISTRIBUTED by Spark's parquet
    writer; only the metadata chain (manifest Avro -> manifest-list Avro ->
    metadata JSON, all tiny) is assembled on the driver, mirroring how
    deltalog.py splits data-plane vs control-plane work.  Layout follows
    the public Iceberg table spec (iceberg table-spec: metadata/
    v{N}.metadata.json + version-hint.text, snapshot -> manifest-list ->
    manifest -> data files).

    ``mode``:
      * ``create`` — the table must not exist (raises otherwise);
      * ``append`` — add a snapshot to an existing table (creating it if
        absent, the usual writer semantics): the new snapshot's
        manifest-list carries every previous manifest PLUS one new
        manifest for the appended files, its ``parent-snapshot-id``
        names the previous head, and a new v{N+1}.metadata.json becomes
        current.  Time travel to any earlier snapshot keeps reading
        exactly the pre-append rows (read_iceberg(snapshot_id=...)).
        Appended data files land under data/snap-<id>-<uuid>/ so
        concurrent part names never collide.  Schema must match the
        table's current schema (name + type, compared in iceberg terms);
        mismatch raises instead of writing an unreadable snapshot.
      * ``overwrite`` — replace the table contents with a new snapshot
        (creating the table if absent): the spec's delete-by-replace —
        the new snapshot's manifest-list carries ONLY the new manifest,
        so reads at head see exactly the new rows, while
        ``parent-snapshot-id`` still names the previous head and every
        earlier snapshot stays time-travelable (prior manifests and
        data files remain on disk until `expire_snapshots` reclaims
        them).  Same schema-match contract as append.

    ``properties`` (optional) merges string key/values into the table
    metadata's spec-standard ``properties`` map as part of the same
    commit — the primitive the exactly-once streaming sink
    (`streaming.ingest.stream_to_iceberg`) uses to record its
    per-``app_id`` batch high-water mark: unlike snapshot summaries,
    table properties survive `expire_snapshots`, so replay detection
    keeps working after maintenance.

    ``evolve_schema`` (append/overwrite) permits ADD-column evolution:
    the DataFrame may carry new NULLABLE columns beyond the table's
    current schema (drops, renames, and type changes still raise); a
    new schema entry with fresh field ids becomes current in the same
    snapshot commit, and older data files read the additions as null —
    the spec's own semantics, and the one evolution a by-name reader
    serves correctly (`_table_schema` refuses rename histories).

    ``partition_by`` (optional) identity-partitions the table: data
    files are staged hive-style (each file holds ONE partition tuple,
    with the source columns still INSIDE the files, as real Iceberg
    identity-partition writers do), the partition values land in every
    manifest entry's ``partition`` struct, and the metadata declares
    the identity spec — which is what `read_iceberg(where=...)` prunes
    against.  On an EXISTING table the declared partitioning is
    inherited automatically (append/overwrite keep the layout);
    passing a ``partition_by`` that differs from the declared spec
    raises — partition evolution needs the connector jar.

    Row-level deletes beyond `delete_iceberg`, and catalog-level
    commits (atomic swap, retries) remain connector-jar territory —
    this writer is the single-writer lakehouse subset, matching the
    Delta side's lifecycle; `expire_snapshots` is the maintenance half.
    """
    import json
    import uuid

    from prql_query_spark.engine.avro import encode_container

    if mode not in ("create", "append", "overwrite"):
        raise IcebergError(
            f"write_iceberg mode {mode!r}: create|append|overwrite")
    exists = os.path.isdir(os.path.join(path, "metadata"))
    if exists and mode == "create":
        raise IcebergError(
            f"{path} is already an iceberg table — pass mode='append' to "
            "add a snapshot")

    meta_dir = os.path.join(path, "metadata")
    if not exists:
        part_fields = _resolve_part_fields(df, list(partition_by or []))
        data_dir = os.path.join(path, "data")
        parts = _write_data_files(df, data_dir, part_fields,
                                   distribute=_distribute)
        os.makedirs(meta_dir)
        man_path = _write_manifest(
            meta_dir, parts, part_fields=part_fields or None)
        snap_id = 1
        ml_path = os.path.join(meta_dir, f"snap-{snap_id}.avro")
        with open(ml_path, "wb") as fh:
            fh.write(encode_container(_ML_SCHEMA, [{
                "manifest_path": f"file://{man_path}",
                "manifest_length": os.path.getsize(man_path),
                "content": 0, "added_snapshot_id": snap_id,
                "sequence_number": 1}]))
        col_pos = {f.name: i + 1 for i, f in enumerate(df.schema.fields)}
        spec_fields = [
            {"name": c, "transform": "identity",
             "source-id": col_pos[c], "field-id": 1000 + i}
            for i, (c, _t) in enumerate(part_fields)]
        meta = {
            "format-version": 2, "table-uuid": str(uuid.uuid4()),
            "location": f"file://{path}",
            "schemas": [{"schema-id": 0, "type": "struct",
                         "fields": _schema_fields(df)}],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": 0,
            "last-partition-id": 999 + len(spec_fields),
            "last-sequence-number": 1,
            "snapshots": [{"snapshot-id": snap_id, "timestamp-ms": 0,
                           "sequence-number": 1,
                           "manifest-list": f"file://{ml_path}",
                           "summary": {"operation": "append"}}],
            "current-snapshot-id": snap_id,
            "properties": {str(k): str(v)
                           for k, v in (properties or {}).items()},
        }
        with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
            json.dump(meta, fh)
        with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
            fh.write("1")
        return

    # ---- append/overwrite: commit a snapshot onto an existing table -----
    meta_path = _latest_metadata(path)
    with open(meta_path) as fh:
        meta = json.load(fh)
    sid = meta.get("current-schema-id", 0)
    cur_schema = next(
        s for s in meta["schemas"] if s.get("schema-id", 0) == sid) \
        if "schemas" in meta else meta["schema"]
    want = [(f["name"], f["type"]) for f in cur_schema["fields"]]
    got = [(f["name"], f["type"]) for f in _schema_fields(df)]
    if want != got and evolve_schema:
        _evolve_schema(meta, meta_path, cur_schema, df)
    elif want != got:
        raise IcebergError(
            f"append schema mismatch: table has {want}, DataFrame has "
            f"{got} — pass evolve_schema=True to ADD nullable columns "
            "(renames/drops/type changes need the connector jar)")

    declared = _declared_part_fields(meta, meta_path)
    if partition_by is not None and list(partition_by) != [
            c for c, _t in declared]:
        raise IcebergError(
            f"partitioning mismatch: table declares "
            f"{[c for c, _t in declared]}, write requested "
            f"{list(partition_by)} — partition evolution needs the "
            "connector jar")

    snaps = meta.get("snapshots") or []
    parent_id = meta.get("current-snapshot-id")
    snap_id = max((s["snapshot-id"] for s in snaps), default=0) + 1

    data_dir = os.path.join(path, "data", f"snap-{snap_id}-{uuid.uuid4().hex[:8]}")
    parts = _write_data_files(df, data_dir, declared,
                              distribute=_distribute)
    man_path = _write_manifest(meta_dir, parts, part_fields=declared or None)

    # new manifest-list = previous head's manifests + the new one.
    # A dangling current-snapshot-id (no matching snapshot entry, or an
    # unresolvable manifest-list) means corrupt metadata: proceeding
    # would write a head snapshot that silently DROPS every pre-append
    # data file — fail loud instead (the module's contract everywhere).
    prev_manifests: list[dict] = []
    if parent_id is not None:
        parent = next(
            (s for s in snaps if s["snapshot-id"] == parent_id), None)
        if parent is None:
            raise IcebergError(
                f"corrupt metadata: current-snapshot-id {parent_id} has "
                f"no snapshot entry in {meta_path} — committing on top of "
                "it would silently drop all prior data files")
        if mode == "append":
            try:
                with open(_resolve(parent["manifest-list"], path), "rb") as fh:
                    _s, prev_manifests = decode_container(fh.read())
            except IcebergError as e:
                raise IcebergError(
                    f"corrupt metadata: parent snapshot {parent_id}'s "
                    f"manifest-list cannot be resolved ({e}) — appending "
                    "would silently drop all prior data files") from e
        # mode == "overwrite": delete-by-replace — the new manifest-list
        # deliberately carries no prior manifests
    _commit_snapshot(
        path, meta_path, meta, snap_id, prev_manifests,
        [(man_path, 0)],
        operation=mode if mode == "overwrite" else "append",
        properties=properties)


def _commit_snapshot(
    path: str,
    meta_path: str,
    meta: dict,
    snap_id: int,
    prev_manifests: list[dict],
    new_manifests: list[tuple[str, int]],
    operation: str,
    properties: dict | None = None,
) -> None:
    """Commit one snapshot onto an existing table: write the
    manifest-list Avro (carried-forward prior manifests keep their
    original sequence numbers — the seq of the snapshot each manifest
    was added in, which the reader's inheritance rule hands down to the
    manifests' entries; pre-sequence-number tables backfill 0, the
    oldest possible seq, so later deletes correctly apply to their
    files), append the snapshot with the table's next sequence number,
    and flip v{N+1}.metadata.json + version-hint.  Driver-only
    KB-scale metadata work."""
    import json
    from prql_query_spark.engine.avro import encode_container

    meta_dir = os.path.join(path, "metadata")
    snaps = meta.get("snapshots") or []
    parent_id = meta.get("current-snapshot-id")
    new_seq = int(meta.get("last-sequence-number", 0)) + 1
    ml_path = os.path.join(meta_dir, f"snap-{snap_id}.avro")
    with open(ml_path, "wb") as fh:
        fh.write(encode_container(_ML_SCHEMA, [
            {"manifest_path": m["manifest_path"],
             "manifest_length": m["manifest_length"],
             "content": m.get("content", 0),
             "added_snapshot_id": m.get("added_snapshot_id", 0),
             "sequence_number": m.get("sequence_number", 0)}
            for m in prev_manifests
        ] + [{
            "manifest_path": f"file://{mp}",
            "manifest_length": os.path.getsize(mp),
            "content": content, "added_snapshot_id": snap_id,
            "sequence_number": new_seq}
            for mp, content in new_manifests]))

    new_snap = {"snapshot-id": snap_id, "timestamp-ms": snap_id,
                "sequence-number": new_seq,
                "manifest-list": f"file://{ml_path}",
                "summary": {"operation": operation}}
    if parent_id is not None:
        new_snap["parent-snapshot-id"] = parent_id
    meta["snapshots"] = snaps + [new_snap]
    meta["current-snapshot-id"] = snap_id
    meta["last-sequence-number"] = new_seq
    if properties:
        props = dict(meta.get("properties") or {})
        props.update({str(k): str(v) for k, v in properties.items()})
        meta["properties"] = props

    m = re.search(r"v?(\d+)\.metadata\.json$", os.path.basename(meta_path))
    next_v = (int(m.group(1)) if m else 0) + 1
    with open(os.path.join(meta_dir, f"v{next_v}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write(str(next_v))


def compact_iceberg(
    spark: SparkSession, path: str, target_files: int = 1,
    sort_by: list[str] | None = None,
) -> None:
    """OPTIMIZE-style data compaction for the jar-less writer — the
    Iceberg twin of `deltalog.compact_delta`: read the CURRENT snapshot,
    rewrite it as ``target_files`` coalesced data files, and commit the
    result as a delete-by-replace snapshot (same rows, fewer files; the
    small-file problem of many streaming appends).  Prior snapshots
    stay time-travelable until `expire_snapshots` reclaims them —
    compaction never mutates or deletes existing files, it only commits
    new ones (the spec's copy-on-write discipline).  Executors do the
    rewrite; the driver only assembles the tiny metadata chain.

    ``sort_by`` range-clusters the rewrite (repartitionByRange + sort
    within files — the spec's sort-order rewrite): files then cover
    DISJOINT ranges of the sort columns, which is what makes the
    manifests' min/max bounds actually skip files on read
    (`read_iceberg(where=)`) — an unclustered table's spans overlap
    everywhere and prune nothing."""
    snapshot = read_iceberg(spark, path)
    if sort_by:
        # range-cluster across (partition cols, sort cols) so tasks are
        # partition-aligned AND range-contiguous; the stager is told NOT
        # to re-distribute (that would destroy this layout)
        with open(_latest_metadata(path)) as fh:
            part_cols = [c for c, _t in
                         _identity_part_fields(json.load(fh))]
        staged = (snapshot
                  .repartitionByRange(target_files,
                                      *(part_cols + list(sort_by)))
                  .sortWithinPartitions(*sort_by))
    else:
        staged = snapshot.coalesce(target_files)
    write_iceberg(staged, path, mode="overwrite",
                  _distribute=not sort_by)


def delete_iceberg(spark: SparkSession, path: str, predicate: str) -> dict:
    """Row-level DELETE committing v2 POSITIONAL delete files — the
    merge-on-read write path whose files `read_iceberg` already applies
    (iceberg table-spec: delete files of ``(file_path, pos)`` rows,
    scoped so a delete with sequence number S removes rows only from
    data files with data seq <= S).  Closes the last CRUD asymmetry vs
    the Delta side without rewriting a single data file: at 100 TB a
    predicate touching 0.1% of rows costs one scan + one delete-set
    shuffle, not a snapshot-sized rewrite (that remains
    `write_iceberg(mode="overwrite")`'s job, and `compact_iceberg`
    still physically purges accumulated deletes).

    Executors do all row work: scan the current snapshot with
    ``_metadata.file_path``/``row_index``, anti-join rows already
    removed by existing delete files (so re-running a predicate is a
    0-row no-op, and ``deleted_rows`` never double-counts), filter by
    ``predicate`` (any Spark SQL boolean expression over the table's
    columns), and write the matched ``(file_path, pos)`` pairs as
    spec-shaped parquet, partitioned by target file and sorted by
    (file_path, pos) within partitions — the spec's required delete
    ordering, and one bounded shuffle of the DELETE SET only.  The
    driver then commits the usual KB-scale metadata chain: a content=1
    delete manifest, a manifest-list carrying every prior manifest
    (original sequence numbers preserved; pre-sequence-number tables
    backfill 0 so the new delete correctly covers their files), and a
    new snapshot with the table's next sequence number.  Prior
    snapshots keep time-traveling to the pre-delete rows.

    A predicate matching nothing commits NO snapshot (returns
    ``{"deleted_rows": 0, ...}``), matching real Iceberg's DELETE
    short-circuit.  Returns ``{"deleted_rows": N, "snapshot_id": id}``.
    """
    import shutil

    meta_path = _latest_metadata(path)
    with open(meta_path) as fh:
        meta = json.load(fh)
    snap = _head_snapshot(meta, meta_path, "deletes")
    if snap is None:
        return {"deleted_rows": 0, "snapshot_id": None}
    cur = snap["snapshot-id"]
    wide = _live_rows_with_pos(spark, path, meta, snap)
    if wide is None:
        return {"deleted_rows": 0, "snapshot_id": cur}

    snap_id = max(s["snapshot-id"] for s in meta["snapshots"]) + 1
    del_dir, parts, n = _stage_delete_files(
        spark, path, wide.filter(predicate), snap_id)
    if n == 0:
        shutil.rmtree(del_dir)  # nothing matched: no snapshot to commit
        return {"deleted_rows": 0, "snapshot_id": cur}

    man_path = _write_manifest(
        os.path.join(path, "metadata"), parts, content=1)
    _commit_snapshot(path, meta_path, meta, snap_id,
                     _head_manifests(snap, path, "deletes"),
                     [(man_path, 1)], operation="delete")
    return {"deleted_rows": n, "snapshot_id": snap_id}


def _head_snapshot(meta: dict, meta_path: str, verb: str) -> dict | None:
    """The current snapshot entry, None for an empty table, or a loud
    raise when current-snapshot-id dangles (corrupt metadata)."""
    snaps = meta.get("snapshots") or []
    cur = meta.get("current-snapshot-id")
    if not snaps or cur is None:
        return None
    snap = next((s for s in snaps if s["snapshot-id"] == cur), None)
    if snap is None:
        raise IcebergError(
            f"corrupt metadata: current-snapshot-id {cur} has no snapshot "
            f"entry in {meta_path} — refusing to commit {verb} on top")
    return snap


def _head_manifests(snap: dict, path: str, verb: str) -> list[dict]:
    """Decode the head snapshot's manifest-list entries for carry-
    forward, failing loud on a broken chain (committing on top would
    silently drop all data files)."""
    try:
        with open(_resolve(snap["manifest-list"], path), "rb") as fh:
            _s, prev_manifests = decode_container(fh.read())
        return prev_manifests
    except IcebergError as e:
        raise IcebergError(
            f"corrupt metadata: head snapshot {snap['snapshot-id']}'s "
            f"manifest-list cannot be resolved ({e}) — committing {verb} "
            "on top would silently drop all data files") from e


def _live_rows_with_pos(
    spark: SparkSession, path: str, meta: dict, snap: dict
) -> DataFrame | None:
    """The snapshot's LIVE rows (existing positional deletes applied)
    with ``_fp_raw``/``_pos`` file-ordinal columns appended — the scan
    both row-level write paths (delete, merge) start from.  None when
    the snapshot has no data files.

    ``_fp_raw`` is `_metadata.file_path` VERBATIM — a per-row
    regexp_replace over millions of rows measured ~25% of the scan
    wall (tools/probe_dml.py A/B), and the raw URI is already the spec
    shape a delete file's ``file_path`` column wants, so the staged
    delete set needs no string work at all.  Normalization happens
    only where the existing-deletes anti-join needs the `_rfp` key,
    and only when the table actually carries deletes."""
    data_files, pos_deletes, _parts, _bounds = _walk_manifests(snap, path)
    if not data_files:
        return None
    schema = _table_schema(meta)
    cols = [f.name for f in schema.fields]
    base = spark.read.schema(schema).parquet(
        *sorted({p for p, _ in data_files}))
    wide = base.select(
        *cols,
        F.col("_metadata.file_path").alias("_fp_raw"),
        F.col("_metadata.row_index").alias("_pos"))
    if pos_deletes:
        wide = (
            wide.withColumn(
                "_rfp",
                F.regexp_replace(F.col("_fp_raw"), "^file:(//)?", ""))
            .join(_deletes_set(spark, path, data_files, pos_deletes),
                  ["_rfp", "_pos"], "left_anti")
            .drop("_rfp"))
    return wide


def _stage_delete_files(
    spark: SparkSession, path: str, doomed: DataFrame, snap_id: int
) -> tuple[str, list[str], int]:
    """Write ``doomed`` rows (must carry ``_fp_raw``/``_pos``) as
    spec-shaped positional-delete parquet: partitioned by target file,
    sorted by (file_path, pos) within partitions — one bounded shuffle
    of the DELETE SET only.  ``file_path`` is the scan's raw URI
    verbatim (the reader's target mapping resolves any file:-prefix
    form driver-side).  Returns (dir, part files, row count — counted
    from the parquet footers, no extra job)."""
    import glob
    import uuid

    import pyarrow.parquet as pq

    targets = (
        doomed
        .select(F.col("_fp_raw").alias("file_path"),
                F.col("_pos").cast("long").alias("pos"))
        .repartition(F.col("file_path"))
        .sortWithinPartitions("file_path", "pos"))
    del_dir = os.path.join(
        path, "data", f"snap-{snap_id}-{uuid.uuid4().hex[:8]}-deletes")
    targets.write.mode("errorifexists").parquet(del_dir)
    parts = sorted(glob.glob(os.path.join(del_dir, "part-*.parquet")))
    return del_dir, parts, sum(pq.read_metadata(p).num_rows for p in parts)


def merge_iceberg(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    properties: dict | None = None,
) -> dict:
    """Key-based MERGE (upsert): ``WHEN MATCHED THEN UPDATE ALL /
    WHEN NOT MATCHED THEN INSERT ALL`` in ONE snapshot — target rows
    whose ``on`` key appears in ``source`` are removed via v2
    positional delete files and EVERY source row is appended as new
    data files, both manifests committed under the same sequence
    number (spec-legal: a merge-on-read commit's delete files name
    only pre-existing (file, pos) targets, so same-seq new data files
    are untouched).  Zero existing data files are rewritten; at 100 TB
    an upsert of a 0.1% source costs one target scan + one semi-join
    shuffle + one delete-set shuffle, not a snapshot rewrite.

    Semantics and contracts:
      * schema of ``source`` must match the table's current schema
        (same name+type check as ``mode="append"``; mismatch raises);
      * ``on`` columns must exist (raises otherwise); NULL keys never
        match (SQL join semantics) so null-keyed source rows insert;
      * duplicate keys in ``source`` append every copy (this writer
        has no "multiple matches" error — document-shaped sources
        dedup upstream, e.g. `dedup.dedup_keep_best`);
      * an EMPTY-table / no-snapshot target degrades to a plain append
        (creating the table if absent) — merge-into-nothing is insert;
      * prior snapshots keep time-traveling to pre-merge rows;
        `compact_iceberg` physically folds the delete files as usual.

    Returns ``{"matched_deleted": N, "appended_rows": M,
    "snapshot_id": id}``."""
    import shutil
    import uuid

    import pyarrow.parquet as pq

    on = list(on)
    if not on:
        raise IcebergError("merge_iceberg needs at least one key column")
    missing = [c for c in on if c not in source.columns]
    if missing:
        raise IcebergError(
            f"merge key columns {missing} not in source {source.columns}")

    exists = os.path.isdir(os.path.join(path, "metadata"))
    if not exists:
        write_iceberg(source, path, mode="append", properties=properties)
        with open(_latest_metadata(path)) as fh:
            meta = json.load(fh)
        return {"matched_deleted": 0,
                "appended_rows": source.count(),
                "snapshot_id": meta.get("current-snapshot-id")}

    meta_path = _latest_metadata(path)
    with open(meta_path) as fh:
        meta = json.load(fh)
    sid = meta.get("current-schema-id", 0)
    cur_schema = next(
        s for s in meta["schemas"] if s.get("schema-id", 0) == sid) \
        if "schemas" in meta else meta["schema"]
    want = [(f["name"], f["type"]) for f in cur_schema["fields"]]
    got = [(f["name"], f["type"]) for f in _schema_fields(source)]
    if want != got:
        raise IcebergError(
            f"merge schema mismatch: table has {want}, source has {got} — "
            "schema evolution needs the connector jar")

    snap = _head_snapshot(meta, meta_path, "a merge")
    if snap is None:  # metadata dir exists but no snapshot yet
        write_iceberg(source, path, mode="append", properties=properties)
        with open(_latest_metadata(path)) as fh:
            meta2 = json.load(fh)
        return {"matched_deleted": 0,
                "appended_rows": source.count(),
                "snapshot_id": meta2.get("current-snapshot-id")}

    snap_id = max(s["snapshot-id"] for s in meta["snapshots"]) + 1
    meta_dir = os.path.join(path, "metadata")
    new_manifests: list[tuple[str, int]] = []

    # matched target rows -> positional delete files (one semi-join on
    # the keys; the source side is whatever Catalyst picks — broadcast
    # when small, shuffle when source rivals the table)
    n_deleted = 0
    wide = _live_rows_with_pos(spark, path, meta, snap)
    if wide is not None:
        doomed = wide.join(source.select(*on).distinct(), on, "left_semi")
        del_dir, del_parts, n_deleted = _stage_delete_files(
            spark, path, doomed, snap_id)
        if n_deleted == 0:
            shutil.rmtree(del_dir)
        else:
            new_manifests.append(
                (_write_manifest(meta_dir, del_parts, content=1), 1))

    # every source row appends (updates = delete old + insert new),
    # inheriting the table's declared identity partitioning
    declared = _declared_part_fields(meta, meta_path)
    data_dir = os.path.join(
        path, "data", f"snap-{snap_id}-{uuid.uuid4().hex[:8]}")
    data_parts = _write_data_files(source, data_dir, declared)
    n_appended = sum(
        pq.read_metadata(p).num_rows for p, _pv in data_parts)
    if n_deleted == 0 and n_appended == 0:  # empty source, no matches
        shutil.rmtree(data_dir)
        return {"matched_deleted": 0, "appended_rows": 0,
                "snapshot_id": snap["snapshot-id"]}
    new_manifests.append(
        (_write_manifest(meta_dir, data_parts, content=0,
                         part_fields=declared or None), 0))

    _commit_snapshot(path, meta_path, meta, snap_id,
                     _head_manifests(snap, path, "a merge"),
                     new_manifests, operation="overwrite",
                     properties=properties)
    return {"matched_deleted": n_deleted, "appended_rows": n_appended,
            "snapshot_id": snap_id}


DEFAULT_ORPHAN_AGE_MS = 3 * 24 * 3600 * 1000  # real Iceberg's 3-day default


def remove_orphan_files(
    path: str, older_than_ms: int = DEFAULT_ORPHAN_AGE_MS
) -> dict:
    """The spec's third maintenance action (after expiry and
    compaction): physically delete parquet files under ``data/`` —
    plus manifest/manifest-list Avro under ``metadata/`` — that NO
    snapshot references: zero-row part files the manifest writer
    skipped, leftovers of aborted/failed writes, files stranded by a
    crash between `expire_snapshots`' metadata commit and its deletion
    pass, or manual surgery.  Never touches the metadata JSON chain
    (no new version — nothing a reader can see changes) and resolves
    every retained snapshot's full manifest chain first, so a corrupt
    chain raises before anything is deleted (the fail-loud contract:
    expiry and orphan cleanup must never guess).

    ``older_than_ms`` (r10 verdict; real Iceberg's action defaults to
    3 days for the same reason): only files whose mtime is at least
    this old are deleted.  `write_iceberg`/`delete_iceberg` write data
    files BEFORE committing metadata (correct copy-on-write), so an
    unguarded sweep racing an in-flight commit would delete the files
    that commit is about to reference — silent data loss.  The default
    makes that race a non-event; pass ``older_than_ms=0`` only when no
    other writer can be in flight (single-maintenance-window rule).

    Returns ``{"deleted_files": N}``."""
    import time

    meta_path = _latest_metadata(path)
    with open(meta_path) as fh:
        meta = json.load(fh)
    referenced: set[str] = set()
    for s in meta.get("snapshots") or []:
        ms, ds = _snapshot_files(s, path)
        referenced |= ms | ds
        referenced.add(_resolve(s["manifest-list"], path))
    cutoff = time.time() - older_than_ms / 1000.0
    deleted = 0

    def sweep(root_dir: str, suffix: str) -> None:
        nonlocal deleted
        for root, _dirs, files in os.walk(root_dir):
            for f in files:
                p = os.path.join(root, f)
                if (f.endswith(suffix) and p not in referenced
                        and os.path.getmtime(p) <= cutoff):
                    os.remove(p)
                    deleted += 1

    sweep(os.path.join(path, "data"), ".parquet")
    sweep(os.path.join(path, "metadata"), ".avro")
    return {"deleted_files": deleted}


def last_committed_batch(path: str, app_id: str) -> int | None:
    """The exactly-once high-water mark for a streaming writer: the last
    batch id `stream_to_iceberg` committed for ``app_id``, read from the
    table metadata's ``properties`` map (key
    ``pq.stream.<app_id>.batch-id`` — written atomically with each
    snapshot commit, and — unlike snapshot summaries — untouched by
    `expire_snapshots`, so replay detection survives maintenance).
    None when the table does not exist or the app never committed —
    mirrors `deltalog.last_txn_version`."""
    if not os.path.isdir(os.path.join(path, "metadata")):
        return None
    with open(_latest_metadata(path)) as fh:
        meta = json.load(fh)
    v = (meta.get("properties") or {}).get(f"pq.stream.{app_id}.batch-id")
    return int(v) if v is not None else None


def _snapshot_files(
    snap: dict, path: str, lenient: bool = False
) -> tuple[set[str], set[str]]:
    """(manifest paths, data-file paths) a snapshot references, resolved
    to local paths.  Strict mode raises IcebergError if the chain is
    unreadable — maintenance must never guess at what a RETAINED
    snapshot owns.  Lenient mode (expired-side resolution only) skips
    references that no longer resolve: a missing file there means a
    previous expiry already deleted it after committing its metadata —
    there is nothing left to reclaim, and raising would wedge every
    future maintenance call on a crash-interrupted table."""
    manifests: set[str] = set()
    data: set[str] = set()
    try:
        with open(_resolve(snap["manifest-list"], path), "rb") as fh:
            _s, entries = decode_container(fh.read())
    except IcebergError:
        if lenient:
            return manifests, data
        raise
    for m in entries:
        try:
            mp = _resolve(m["manifest_path"], path)
        except IcebergError:
            if lenient:
                continue
            raise
        manifests.add(mp)
        with open(mp, "rb") as fh:
            _s2, files = decode_container(fh.read())
        for e in files:
            try:
                data.add(_resolve(e["data_file"]["file_path"], path))
            except IcebergError:
                if not lenient:
                    raise
    return manifests, data


def expire_snapshots(path: str, keep_last: int = 1) -> dict:
    """Iceberg maintenance: retire all but the newest ``keep_last``
    snapshots and physically delete every file only they referenced —
    the reclaim half of `write_iceberg(mode="overwrite")`'s promise that
    replaced data stays time-travelable *until expiry*.

    Semantics follow the spec's expire-snapshots action: retained
    snapshots keep reading bit-identical (their manifest chains are
    never touched); expired snapshot ids disappear from the metadata
    (time travel to them now raises); manifest-list/manifest/data files
    still referenced by ANY retained snapshot survive (append chains
    share manifests), the rest are deleted.  "Newest" is ordered by
    timestamp-ms (snapshot-id tiebreak) — external Iceberg writers use
    random 64-bit snapshot ids, so id order is not age order.  The
    current snapshot can never be expired: ``keep_last < 1`` raises,
    and corrupt metadata where the head is not among the newest
    ``keep_last`` raises rather than deleting the head's files.
    Driver-only metadata work — file sets are KB-scale manifests,
    never data scans.

    Crash safety (r10 verdict): the new metadata version + version-hint
    are committed BEFORE any file is unlinked, so readers atomically
    stop seeing the expired snapshots first and a crash mid-deletion
    degrades to unreferenced orphans — never a live metadata version
    pointing at deleted files.  Re-running after any partial state is
    idempotent: retained chains are resolved strictly (fail-loud —
    expiry never guesses at what a KEPT snapshot owns), expired chains
    leniently (already-deleted file = already reclaimed), and
    `remove_orphan_files` sweeps whatever a crashed deletion pass left.

    Returns ``{"expired": [ids...], "deleted_files": N}``."""
    if keep_last < 1:
        raise IcebergError(
            f"keep_last={keep_last}: must be >= 1 — the current snapshot "
            "can never be expired")
    meta_path = _latest_metadata(path)
    with open(meta_path) as fh:
        meta = json.load(fh)
    snaps = meta.get("snapshots") or []
    ordered = sorted(
        snaps, key=lambda s: (s.get("timestamp-ms", 0), s["snapshot-id"]))
    kept, expired = ordered[-keep_last:], ordered[:-keep_last]
    cur = meta.get("current-snapshot-id")
    if cur is not None and cur not in {s["snapshot-id"] for s in kept}:
        raise IcebergError(
            f"current-snapshot-id {cur} is not among the newest "
            f"{keep_last} snapshots — refusing to expire the head")
    if not expired:
        return {"expired": [], "deleted_files": 0}

    retained_m: set[str] = set()
    retained_d: set[str] = set()
    for s in kept:
        ms, ds = _snapshot_files(s, path)
        retained_m |= ms
        retained_d |= ds

    # resolve EVERY expired reference before deleting anything (expired
    # snapshots share manifests with each other); leniently — a missing
    # file means a crashed earlier pass already reclaimed it
    expired_files: set[str] = set()
    for s in expired:
        ms, ds = _snapshot_files(s, path, lenient=True)
        expired_files |= (ms - retained_m) | (ds - retained_d)
        try:
            expired_files.add(_resolve(s["manifest-list"], path))
        except IcebergError:
            pass  # already reclaimed

    # COMMIT FIRST: once the hint flips, no reader or maintenance call
    # can see the expired snapshots; only then is deletion safe
    meta["snapshots"] = [
        s for s in snaps
        if s["snapshot-id"] in {x["snapshot-id"] for x in kept}]
    # a kept snapshot's parent may now be expired; drop dangling lineage
    kept_ids = {s["snapshot-id"] for s in meta["snapshots"]}
    for s in meta["snapshots"]:
        if s.get("parent-snapshot-id") not in kept_ids:
            s.pop("parent-snapshot-id", None)
    m = re.search(r"v?(\d+)\.metadata\.json$", os.path.basename(meta_path))
    next_v = (int(m.group(1)) if m else 0) + 1
    mdir = os.path.join(path, "metadata")
    with open(os.path.join(mdir, f"v{next_v}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
        fh.write(str(next_v))

    deleted = 0
    for f in sorted(expired_files):
        try:
            os.remove(f)
            deleted += 1
        except FileNotFoundError:
            pass  # a concurrent/earlier pass got it; same end state
    return {"expired": [s["snapshot-id"] for s in expired],
            "deleted_files": deleted}


def iceberg_metadata(
    spark: SparkSession, path: str, kind: str = "snapshots"
) -> DataFrame:
    """Metadata introspection — the jar-less stand-in for real
    Iceberg's ``table$snapshots`` / ``table$manifests`` /
    ``table$files`` system tables.  Driver-side KB-scale work only
    (the metadata JSON + Avro manifest chain); returns an ordinary
    DataFrame so the results compose with any query.

    ``kind``:
      * ``snapshots`` — one row per snapshot: id, parent, timestamp,
        sequence number, operation, manifest-list path;
      * ``manifests`` — the CURRENT snapshot's manifest-list entries;
      * ``files`` — the CURRENT snapshot's data + delete files with
        record counts, sizes, sequence numbers, and the partition
        values / bounds maps as JSON strings.
    """
    meta_path = _latest_metadata(path)
    with open(meta_path) as fh:
        meta = json.load(fh)

    if kind == "snapshots":
        rows = [
            (int(s["snapshot-id"]),
             int(s["parent-snapshot-id"])
             if s.get("parent-snapshot-id") is not None else None,
             int(s.get("timestamp-ms", 0)),
             int(s.get("sequence-number", 0)),
             (s.get("summary") or {}).get("operation"),
             s.get("manifest-list"))
            for s in meta.get("snapshots") or []
        ]
        return spark.createDataFrame(
            rows, "snapshot_id long, parent_id long, timestamp_ms long, "
                  "sequence_number long, operation string, "
                  "manifest_list string")

    snap = _head_snapshot(meta, meta_path, "metadata introspection")
    if kind == "manifests":
        entries = [] if snap is None else _head_manifests(
            snap, path, "metadata introspection")
        rows = [
            (m.get("manifest_path"), int(m.get("manifest_length", 0)),
             int(m.get("content", 0)), int(m.get("added_snapshot_id", 0)),
             int(m.get("sequence_number", 0)))
            for m in entries
        ]
        return spark.createDataFrame(
            rows, "manifest_path string, manifest_length long, "
                  "content int, added_snapshot_id long, "
                  "sequence_number long")

    if kind == "files":
        import pyarrow.parquet as pq

        rows = []
        if snap is not None:
            data_files, pos_deletes, parts, bounds = _walk_manifests(
                snap, path)
            for p, seq in data_files:
                lo, hi = bounds.get(p, (None, None))
                rows.append((
                    p, 0, int(pq.read_metadata(p).num_rows),
                    os.path.getsize(p),
                    int(seq) if seq is not None else None,
                    json.dumps(parts[p]) if p in parts else None,
                    json.dumps(lo) if lo else None,
                    json.dumps(hi) if hi else None))
            for p, seq in pos_deletes:
                rows.append((
                    p, 1, int(pq.read_metadata(p).num_rows),
                    os.path.getsize(p),
                    int(seq) if seq is not None else None,
                    None, None, None))
        return spark.createDataFrame(
            rows, "file_path string, content int, record_count long, "
                  "file_size_bytes long, sequence_number long, "
                  "partition string, lower_bounds string, "
                  "upper_bounds string")

    raise IcebergError(
        f"iceberg_metadata kind {kind!r}: snapshots|manifests|files")
