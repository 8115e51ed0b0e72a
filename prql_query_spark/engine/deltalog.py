"""Pure-Python Delta Lake table reader: the connector-less fallback.

The Delta connector jars are not deployable in every environment (this
container included), but the Delta transaction log is an open, stable
format (delta.io PROTOCOL.md): `_delta_log/%020d.json` commit files of
JSON-line actions (`metaData`, `add`, `remove`, `protocol`), optionally
compacted into `%020d.checkpoint.parquet` files referenced by
`_last_checkpoint`.  A snapshot is: latest checkpoint's state + replay
of the JSON commits after it; the active file set is adds minus removes
keyed by path; `metaData.schemaString` is a Spark StructType JSON.

So, mirroring the `pgwire.py` philosophy (reference attaches live
engines; we stay live in every environment), this module materializes a
Delta snapshot with stdlib json + `spark.read.parquet`:

* resolve the snapshot's active files (checkpoint-aware, optional time
  travel via ``version=``),
* read them with the schema the LOG declares (never inference),
* recover partition columns from the hive-style paths Delta writes
  (`basePath` trick), or from `partitionValues` literals when a
  partition produced no hive directory.

Honest limits, enforced loudly: reader protocol v1 tables only —
deletion vectors / column mapping (minReaderVersion >= 2 or
readerFeatures) raise a clear error instead of silently wrong rows.
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from prql_query_spark.engine.pruning import keep_files
from prql_query_spark.engine.session import barrier


class DeltaProtocolError(RuntimeError):
    pass


_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint(\.\d+\.\d+)?\.parquet$")


def _snapshot_actions(spark: SparkSession, log_dir: str, version: int | None):
    """Yield (metaData, protocol, {path: add}, {appId: txn version})
    replayed to ``version``."""
    entries = os.listdir(log_dir)
    commits = sorted(
        (int(m.group(1)), f) for f in entries if (m := _COMMIT_RE.match(f))
    )
    if not commits and not any(_CHECKPOINT_RE.match(f) for f in entries):
        raise DeltaProtocolError(f"no delta commits found in {log_dir}")

    ckpt_version = -1
    ckpt_files: list[str] = []
    lc = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(lc):
        with open(lc) as fh:
            v = json.load(fh)["version"]
        if version is None or v <= version:
            ckpt_version = v
            ckpt_files = [
                os.path.join(log_dir, f)
                for f in entries
                if (m := _CHECKPOINT_RE.match(f)) and int(m.group(1)) == v
            ]

    meta = None
    protocol = None
    adds: dict[str, dict] = {}
    txns: dict[str, int] = {}

    if ckpt_files:
        # a checkpoint is ordinary parquet of action structs
        cp = spark.read.parquet(*ckpt_files)
        cols = set(cp.columns)
        rows = cp.select(
            *[c for c in ("metaData", "protocol", "add", "remove", "txn")
              if c in cols]
        ).collect()
        for r in rows:
            d = r.asDict(recursive=True)
            if d.get("metaData"):
                meta = d["metaData"]
            if d.get("protocol"):
                protocol = d["protocol"]
            if d.get("add"):
                adds[d["add"]["path"]] = d["add"]
            if d.get("remove"):
                adds.pop(d["remove"]["path"], None)
            if d.get("txn"):
                txns[d["txn"]["appId"]] = d["txn"]["version"]

    for v, fname in commits:
        if v <= ckpt_version:
            continue
        if version is not None and v > version:
            break
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "metaData" in action:
                    meta = action["metaData"]
                elif "protocol" in action:
                    protocol = action["protocol"]
                elif "add" in action:
                    adds[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    adds.pop(action["remove"]["path"], None)
                elif "txn" in action:
                    txns[action["txn"]["appId"]] = action["txn"]["version"]
    if meta is None:
        raise DeltaProtocolError(f"delta log {log_dir} has no metaData action")
    return meta, protocol, adds, txns


def _prune_inputs(adds: dict) -> dict:
    """`pruning.keep_files`' per-file metadata from the add actions:
    partitionValues and the ``stats`` minValues / maxValues (a file
    without readable stats has no bounds)."""
    files = {}
    for p, add in adds.items():
        try:
            st = json.loads(add.get("stats") or "{}")
            lo, hi = st.get("minValues"), st.get("maxValues")
        except (AttributeError, TypeError, ValueError):
            lo = hi = None
        files[p] = (add.get("partitionValues"), lo, hi)
    return files


def read_delta_snapshot(
    spark: SparkSession, path: str, version: int | None = None,
    where: str | None = None
) -> DataFrame:
    """Read a Delta table directory as a DataFrame at the latest (or a
    time-travel ``version``) snapshot — no connector jar required.

    ``where`` (optional) is any Spark SQL boolean expression; it is
    ALWAYS applied as a row filter, and its conjuncts over partition
    or stats-covered columns additionally SKIP whole data files using
    the log's partition values and per-file ``stats``
    (`pruning.keep_files`) — Delta's file-skipping, the scan lever that
    keeps a selective predicate from opening every footer of a 100 TB
    table."""
    log_dir = os.path.join(path, "_delta_log")
    meta, protocol, adds, _txns = _snapshot_actions(spark, log_dir, version)

    mapping_mode = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    if protocol:
        reader_v = protocol.get("minReaderVersion", 1) or 1
        features = protocol.get("readerFeatures") or []
        unsupported = [f for f in features if f != "columnMapping"]
        if mapping_mode == "id":
            raise DeltaProtocolError(
                f"delta table {path} uses columnMapping.mode=id — only "
                "name mapping is supported by the pure-Python fallback"
            )
        if unsupported or (reader_v > 2) or (
            reader_v == 2 and mapping_mode == "none" and not features
        ):
            raise DeltaProtocolError(
                f"delta table {path} needs reader protocol v{reader_v} "
                f"(features: {features}) — deletion vectors and other "
                "v2+ features (beyond name-mode column mapping) are not "
                "supported by the pure-Python fallback; deploy the Delta "
                "connector (--packages io.delta:delta-spark_2.13:<ver>)"
            )

    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = meta.get("partitionColumns") or []
    if where and mapping_mode == "none":
        # skipping keys on LOGICAL names; mapping-mode stats would key
        # on physical names — fall through to the row filter alone
        keep = keep_files(spark, schema, part_cols, _prune_inputs(adds), where)
        if keep is not None:
            adds = {p: a for p, a in adds.items() if p in keep}

    def _done(df: DataFrame) -> DataFrame:
        return df.filter(where) if where else df

    if not adds:
        return _done(spark.createDataFrame([], schema))

    # name-mode column mapping: parquet files carry PHYSICAL names from
    # each field's delta.columnMapping.physicalName metadata; scan with
    # the physical schema, then rename back to logical.
    phys_of = {}
    if mapping_mode == "name":
        for f in schema.fields:
            phys = (f.metadata or {}).get("delta.columnMapping.physicalName")
            if not phys:
                raise DeltaProtocolError(
                    f"columnMapping.mode=name but field {f.name!r} has no "
                    "physicalName metadata — corrupt table"
                )
            phys_of[f.name] = phys

    def scan(files_, sch):
        if not phys_of:
            return spark.read.schema(sch).parquet(*files_)
        phys_schema = StructType([
            StructField(phys_of[f.name], f.dataType, f.nullable)
            for f in sch.fields
        ])
        df = spark.read.schema(phys_schema).parquet(*files_)
        return df.select(*[
            F.col(phys_of[f.name]).alias(f.name) for f in sch.fields
        ])

    files = [
        os.path.join(path, urllib.parse.unquote(p)) for p in sorted(adds)
    ]
    if not part_cols:
        return _done(scan(files, schema))

    # Partitioned: Delta stores partition values in the LOG, not the
    # files.  Delta's writers use hive-style `col=val/` layout, which
    # Spark's basePath option parses back into columns — with the full
    # log schema supplied, so types come from the log, not inference.
    # (With name mapping the dirs carry physical names, so fall through
    # to the log-literal branch, which is mapping-agnostic.)  Log paths
    # are percent-encoded (write_delta quotes '=' as %3D), so the
    # layout test must run on the DECODED rel path — the quoted form
    # hid this writer's own hive dirs and sent every partitioned read
    # through the union-of-literals fallback (r11).
    hive_style = not phys_of and all(
        all(f"{c}=" in urllib.parse.unquote(p) for c in part_cols)
        for p in adds
    )
    if hive_style:
        # partition discovery appends the partition columns last
        return _done(
            spark.read.schema(schema)
            .option("basePath", path)
            .parquet(*files)
            .select([f.name for f in schema.fields])
        )
    # Fallback for non-hive layouts: group files by their partition
    # values and attach them as typed literals.
    by_vals: dict[tuple, list[str]] = {}
    for p, add in adds.items():
        # under name mapping the LOG's partitionValues keys are physical
        key = tuple(
            (add.get("partitionValues") or {}).get(phys_of.get(c, c))
            for c in part_cols
        )
        by_vals.setdefault(key, []).append(
            os.path.join(path, urllib.parse.unquote(p))
        )
    data_schema = StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )
    parts = []
    for key, fs in sorted(by_vals.items()):
        df = scan(fs, data_schema)
        for c, raw in zip(part_cols, key):
            typ = schema[c].dataType
            df = df.withColumn(
                c, F.lit(raw).cast(typ) if raw is not None else F.lit(None).cast(typ)
            )
        parts.append(df.select([f.name for f in schema.fields]))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return _done(out)


def _evolved_delta_schema(
    declared: StructType, df: DataFrame, meta: dict, path: str
) -> StructType:
    """ADD-column evolution for the Delta writer (the mergeSchema
    subset a log-schema reader serves correctly): every declared field
    must keep its exact type, new fields must be nullable, drops and
    type changes raise.  Returns the evolved schema to commit as a new
    metaData action; old parquet files read the additions as null
    because `read_delta_snapshot` always scans with the log-declared
    schema.  Column-mapping tables are refused — new fields would need
    physicalName metadata this writer does not mint."""
    if (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none") != "none":
        raise DeltaProtocolError(
            f"schema evolution on {path}: column-mapping tables need "
            "the Delta connector")
    decl_by_name = {f.name: f for f in declared.fields}
    added = []
    for f in df.schema.fields:
        old = decl_by_name.get(f.name)
        if old is None:
            if not f.nullable:
                raise DeltaProtocolError(
                    f"new column {f.name!r} must be nullable — existing "
                    "rows have no value for it")
            added.append(f.name)
        elif old.dataType != f.dataType:
            raise DeltaProtocolError(
                f"schema evolution cannot change column {f.name!r} from "
                f"{old.dataType.simpleString()} to "
                f"{f.dataType.simpleString()}")
    missing = [n for n in decl_by_name
               if n not in {f.name for f in df.schema.fields}]
    if missing:
        raise DeltaProtocolError(
            f"schema evolution cannot DROP columns ({missing}) — only "
            "adding nullable columns is supported")
    if not added:
        raise DeltaProtocolError(
            "schema evolution requested but the DataFrame adds no new "
            "columns")
    return df.schema


def write_delta(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    evolve_schema: bool = False,
    _distribute: bool = True,
) -> int:
    """Commit a DataFrame to a Delta table without the connector jar —
    the write side of the pure-Python fallback.  Returns the committed
    version.

    Executors write ordinary parquet (in parallel, partitioned hive-style
    when ``partition_by`` is set) into a staging dir; the files are then
    moved into the table and one atomic `%020d.json` commit records them
    — `add` actions, plus `remove` of every previously-active file when
    ``mode='overwrite'``.  First write creates the table (protocol 1/2 +
    metaData).  Appends must match the table's declared schema and
    partitioning exactly (loud error, never silent coercion).

    Single-writer protocol: the commit file is created with O_EXCL, so a
    concurrent writer racing to the same version fails cleanly instead
    of corrupting the log (optimistic concurrency without the retry
    loop — retry is the caller's policy)."""
    import uuid

    if mode not in ("append", "overwrite"):
        raise ValueError(f"write_delta mode must be append|overwrite, got {mode!r}")
    spark = df.sparkSession
    log_dir = os.path.join(path, "_delta_log")
    exists = os.path.isdir(log_dir) and any(
        _COMMIT_RE.match(f) or _CHECKPOINT_RE.match(f)
        for f in os.listdir(log_dir)
    )
    part_cols = list(partition_by or [])

    prev_adds: dict[str, dict] = {}
    evolved: StructType | None = None
    prev_meta: dict | None = None
    if exists:
        meta, protocol, prev_adds, _txns = _snapshot_actions(spark, log_dir, None)
        if protocol and ((protocol.get("minWriterVersion", 2) or 2) > 2):
            raise DeltaProtocolError(
                f"delta table {path} needs writer protocol "
                f"v{protocol['minWriterVersion']} — not supported by the "
                "pure-Python fallback"
            )
        declared = StructType.fromJson(json.loads(meta["schemaString"]))
        # compare names+types, NOT nullability: Spark's file sources
        # force every read column nullable, so any read-then-write-back
        # flow (compaction, DML rewrite) would spuriously mismatch a
        # table declared with non-nullable columns (r11)
        same = ([(f.name, f.dataType) for f in declared.fields]
                == [(f.name, f.dataType) for f in df.schema.fields])
        if not same and evolve_schema:
            evolved = _evolved_delta_schema(declared, df, meta, path)
        elif not same:
            raise DeltaProtocolError(
                f"schema mismatch appending to {path}: table declares "
                f"{declared.simpleString()}, DataFrame has "
                f"{df.schema.simpleString()} — pass evolve_schema=True "
                "to ADD nullable columns"
            )
        prev_meta = meta
        declared_parts = meta.get("partitionColumns") or []
        if declared_parts != part_cols:
            raise DeltaProtocolError(
                f"partitioning mismatch: table uses {declared_parts}, "
                f"write requested {part_cols}"
            )
        next_version = _next_version(log_dir)
    else:
        os.makedirs(log_dir, exist_ok=True)
        next_version = 0

    adds = _stage_and_adopt(df, path, part_cols, distribute=_distribute)

    actions: list[dict] = []
    if next_version == 0:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
        actions.append({"metaData": {
            "id": uuid.uuid4().hex,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": df.schema.json(),
            "partitionColumns": part_cols,
            "configuration": {},
        }})
    elif evolved is not None:
        # add-column evolution: re-commit the FULL metaData (readers
        # replay the last one wholesale) with only schemaString changed,
        # in the same commit as the data it describes
        new_meta = dict(prev_meta or {})
        new_meta["schemaString"] = evolved.json()
        actions.append({"metaData": new_meta})
    if mode == "overwrite":
        for p in sorted(prev_adds):
            actions.append({"remove": {"path": p, "dataChange": True,
                                       "deletionTimestamp": 0}})
    if txn is not None:
        # streaming idempotence marker (PROTOCOL.md txn action): readers
        # recover the last committed (appId, version) to skip replays
        actions.append({"txn": {"appId": txn[0], "version": int(txn[1])}})
    actions.extend({"add": a} for a in adds)
    _commit_actions(log_dir, next_version, actions)
    return next_version


def _next_version(log_dir: str) -> int:
    """The next commit version.  A checkpoint may be the only surviving
    log artifact (old JSON commits cleaned up) — numbering continues
    PAST it, or the new commit would be invisible to checkpoint-aware
    readers."""
    versions = [
        int(m.group(1))
        for f in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(f))
    ]
    lc = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(lc):
        with open(lc) as fh:
            versions.append(json.load(fh)["version"])
    return max(versions) + 1 if versions else 0


def _commit_actions(log_dir: str, version: int, actions: list[dict]) -> None:
    """One atomic `%020d.json` commit (O_EXCL: a concurrent writer
    racing to the same version fails cleanly)."""
    commit = os.path.join(log_dir, f"{version:020d}.json")
    fd = os.open(commit, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        with os.fdopen(fd, "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")
    except BaseException:
        os.unlink(commit)
        raise


def _stage_and_adopt(
    df: DataFrame, path: str, part_cols: list[str],
    distribute: bool = True,
) -> list[dict]:
    """Write ``df`` with Spark's parallel parquet writers into a staging
    dir under the table, move the non-empty part files into place
    (hive-partitioned when ``part_cols``), and return their `add`
    action dicts — the data-plane half of every commit (write, delete
    rewrite, merge)."""
    import shutil
    import uuid

    staging = os.path.join(path, f".staging-{uuid.uuid4().hex}")
    if part_cols and distribute:
        # one writer per partition (same guard as write_partitioned and
        # the iceberg staging): naive partitionBy writes tasks ×
        # partitions small files.  ``distribute=False`` is for callers
        # that OWN the layout (compact_delta's sort_by rewrite) — their
        # range clustering must survive to the files
        df = df.repartition(*[df[c] for c in part_cols])
    w = df.write.mode("overwrite")
    if part_cols:
        w = w.partitionBy(*part_cols)
    w.parquet(staging)

    adds = []
    for root, _dirs, files in os.walk(staging):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            src = os.path.join(root, f)
            stats_json = None
            try:  # skip zero-row part files (empty input partitions)
                import pyarrow.parquet as _pq

                md = _pq.ParquetFile(src).metadata
                if md.num_rows == 0:
                    continue
                # spec-shaped per-file stats from the footer already in
                # hand (zero extra I/O): numRecords always; min/max for
                # the exact, timezone-free types engine.pruning vouches
                # for.  Real Delta readers (and read_delta_snapshot's
                # where=) skip whole files on these.
                from prql_query_spark.engine.pruning import footer_bounds

                lo, hi, nulls = footer_bounds(md)
                stats_json = json.dumps(
                    {"numRecords": md.num_rows, "minValues": lo,
                     "maxValues": hi, "nullCount": nulls}, default=str)
            except Exception:
                pass
            rel = os.path.relpath(src, staging)
            dst = os.path.join(path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(src, dst)
            pv = {}
            for piece in os.path.dirname(rel).split(os.sep):
                if "=" in piece:
                    k, _, v = piece.partition("=")
                    pv[k] = None if v == "__HIVE_DEFAULT_PARTITION__" \
                        else urllib.parse.unquote(v)
            add = {
                "path": urllib.parse.quote(rel.replace(os.sep, "/")),
                "partitionValues": pv,
                "size": os.path.getsize(dst),
                "modificationTime": int(os.path.getmtime(dst) * 1000),
                "dataChange": True,
            }
            if stats_json is not None:
                add["stats"] = stats_json
            adds.append(add)
    shutil.rmtree(staging, ignore_errors=True)
    return adds


def last_txn_version(spark: SparkSession, path: str, app_id: str) -> int | None:
    """Highest committed `txn` version for ``app_id`` (None if never
    committed) — the exactly-once handshake of a streaming writer."""
    log_dir = os.path.join(path, "_delta_log")
    if not os.path.isdir(log_dir):
        return None
    try:
        _m, _p, _a, txns = _snapshot_actions(spark, log_dir, None)
    except DeltaProtocolError:
        return None
    return txns.get(app_id)


def checkpoint_delta(spark: SparkSession, path: str) -> int:
    """Compact the log: write a `%020d.checkpoint.parquet` of the current
    snapshot state (metaData + protocol + active adds + txns) and point
    `_last_checkpoint` at it.  Readers then skip every JSON commit at or
    below the checkpoint — O(1) snapshot resolution however long the
    table's history grows.  Returns the checkpointed version."""
    log_dir = os.path.join(path, "_delta_log")
    meta, protocol, adds, txns = _snapshot_actions(spark, log_dir, None)
    versions = [
        int(m.group(1)) for f in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(f))
    ]
    if not versions:
        raise DeltaProtocolError(f"nothing to checkpoint in {log_dir}")
    v = max(versions)
    # Explicit PROTOCOL.md checkpoint schema — NOT spark.read.json
    # inference, which turned add.partitionValues into a struct of the
    # keys it happened to observe, dropped empty maps like
    # metaData.configuration = {}, and guessed types/nullability.  A
    # checkpoint written that way is unreadable (or misread) by the real
    # Delta connector; this one is the spec shape (round-3 ADVICE).
    from pyspark.sql.types import (
        ArrayType, BooleanType, IntegerType, LongType, MapType, StringType,
        StructField, StructType as ST,
    )

    s_map = MapType(StringType(), StringType())
    cp_schema = ST([
        StructField("protocol", ST([
            StructField("minReaderVersion", IntegerType()),
            StructField("minWriterVersion", IntegerType()),
        ])),
        StructField("metaData", ST([
            StructField("id", StringType()),
            StructField("name", StringType()),
            StructField("description", StringType()),
            StructField("format", ST([
                StructField("provider", StringType()),
                StructField("options", s_map),
            ])),
            StructField("schemaString", StringType()),
            StructField("partitionColumns", ArrayType(StringType())),
            StructField("configuration", s_map),
            StructField("createdTime", LongType()),
        ])),
        StructField("txn", ST([
            StructField("appId", StringType()),
            StructField("version", LongType()),
            StructField("lastUpdated", LongType()),
        ])),
        StructField("add", ST([
            StructField("path", StringType()),
            StructField("partitionValues", s_map),
            StructField("size", LongType()),
            StructField("modificationTime", LongType()),
            StructField("dataChange", BooleanType()),
            StructField("stats", StringType()),
            StructField("tags", s_map),
        ])),
        StructField("remove", ST([
            StructField("path", StringType()),
            StructField("deletionTimestamp", LongType()),
            StructField("dataChange", BooleanType()),
        ])),
    ])

    def _row(**kw):
        return tuple(kw.get(f.name) for f in cp_schema.fields)

    proto = protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    md = meta or {}
    fmt = md.get("format") or {}
    rows = [
        _row(protocol=(int(proto.get("minReaderVersion", 1)),
                       int(proto.get("minWriterVersion", 2)))),
        _row(metaData=(
            md.get("id"), md.get("name"), md.get("description"),
            (fmt.get("provider", "parquet"),
             {str(k): str(vv) for k, vv in (fmt.get("options") or {}).items()}),
            md.get("schemaString"),
            list(md.get("partitionColumns") or []),
            {str(k): str(vv) for k, vv in (md.get("configuration") or {}).items()},
            int(md["createdTime"]) if md.get("createdTime") is not None else None,
        )),
    ]
    for _p, a in sorted(adds.items()):
        rows.append(_row(add=(
            a["path"],
            {str(k): (None if vv is None else str(vv))
             for k, vv in (a.get("partitionValues") or {}).items()},
            int(a["size"]),
            int(a.get("modificationTime", 0)),
            bool(a.get("dataChange", True)),
            a.get("stats"),
            {str(k): str(vv) for k, vv in a["tags"].items()}
            if a.get("tags") else None,
        )))
    for k, ver in sorted(txns.items()):
        rows.append(_row(txn=(k, int(ver), None)))

    n_actions = len(rows)
    cp = spark.createDataFrame(rows, cp_schema)
    import glob
    import shutil
    import uuid

    staging = os.path.join(log_dir, f".ckpt-{uuid.uuid4().hex}")
    cp.coalesce(1).write.mode("overwrite").parquet(staging)
    src = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
    shutil.move(src, os.path.join(log_dir, f"{v:020d}.checkpoint.parquet"))
    shutil.rmtree(staging, ignore_errors=True)
    tmp = os.path.join(log_dir, "_last_checkpoint.tmp")
    with open(tmp, "w") as fh:
        fh.write(json.dumps({"version": v, "size": n_actions}))
    os.replace(tmp, os.path.join(log_dir, "_last_checkpoint"))
    return v


def compact_delta(
    spark: SparkSession, path: str, target_files: int | None = None,
    sort_by: list[str] | None = None,
) -> int:
    """OPTIMIZE-style small-file compaction: rewrite the current snapshot
    into few large files and swap them in atomically (removes + adds in
    ONE commit — readers see either the old file set or the new, never a
    mix).  Partitioned tables keep their partitioning.  The data-layout
    lever the SCALING.md sweep measured (row-group parallelism) applied
    to the transactional table format.

    ``sort_by`` range-clusters the rewrite (repartitionByRange + sort
    within files — real OPTIMIZE's sort order): files then cover
    DISJOINT ranges of the sort columns, which is what makes the
    per-file stats actually skip (`read_delta_snapshot(where=)`) — an
    unclustered table's min/max spans overlap everywhere and prune
    nothing.  Returns the committed version."""
    log_dir = os.path.join(path, "_delta_log")
    meta, _protocol, adds, _txns = _snapshot_actions(spark, log_dir, None)
    part_cols = meta.get("partitionColumns") or []
    snap = read_delta_snapshot(spark, path)
    if sort_by:
        # range-cluster across (partition cols, sort cols) so tasks are
        # partition-aligned AND range-contiguous; the stager is told NOT
        # to re-distribute (that would destroy this layout)
        n = target_files or snap.rdd.getNumPartitions()
        snap = (snap.repartitionByRange(n, *(part_cols + sort_by))
                    .sortWithinPartitions(*sort_by))
    elif target_files:
        snap = snap.repartition(target_files)
    # overwrite-mode write_delta = removes of every prior active file plus
    # adds of the rewritten ones, in one atomic commit
    return write_delta(snap, path, mode="overwrite",
                       partition_by=part_cols or None,
                       _distribute=not sort_by)


DEFAULT_VACUUM_AGE_MS = 3 * 24 * 3600 * 1000  # mirrors the iceberg guard


def vacuum_delta(
    spark: SparkSession,
    path: str,
    dry_run: bool = False,
    older_than_ms: int = DEFAULT_VACUUM_AGE_MS,
) -> list[str]:
    """Physically delete data files no longer referenced by the CURRENT
    snapshot (files removed by overwrites/compactions/deletes).
    Returns the deleted (or, with ``dry_run``, would-delete) relative
    paths.

    Deliberately simpler than the connector's VACUUM: no retention
    window over LOG versions, because the pure-Python reader resolves
    only the latest snapshot + explicit time travel — callers who need
    time travel must vacuum only after they no longer need old
    versions.  The log itself is never touched.

    ``older_than_ms`` (r11, the same race the r10 verdict flagged on
    the Iceberg sweep — real Delta's VACUUM defaults to 7 days for
    it): `write_delta` stages and MOVES data files into the table
    before its commit lands, so an unguarded vacuum racing an
    in-flight write deletes files the commit is about to add.  Only
    files whose mtime is at least this old are deleted; pass
    ``older_than_ms=0`` only when no writer can be in flight
    (single-maintenance-window rule)."""
    import time

    _m, _p, adds, _t = _snapshot_actions(
        spark, os.path.join(path, "_delta_log"), None)
    active = {urllib.parse.unquote(p) for p in adds}
    cutoff = time.time() - older_than_ms / 1000.0
    doomed = []
    for root, _dirs, files in os.walk(path):
        if "_delta_log" in root:
            continue
        for f in files:
            if not f.endswith(".parquet"):
                continue
            p = os.path.join(root, f)
            rel = os.path.relpath(p, path)
            if rel not in active and os.path.getmtime(p) <= cutoff:
                doomed.append(rel)
    if not dry_run:
        for rel in doomed:
            os.unlink(os.path.join(path, rel))
        # prune now-empty hive partition dirs
        for root, dirs, files in os.walk(path, topdown=False):
            if "_delta_log" not in root and root != path \
                    and not dirs and not files:
                os.rmdir(root)
    return sorted(doomed)


def _writable_snapshot(spark: SparkSession, path: str):
    """(meta, adds, part_cols) of the current snapshot, with the same
    writer-protocol guard as `write_delta`."""
    log_dir = os.path.join(path, "_delta_log")
    meta, protocol, adds, _t = _snapshot_actions(spark, log_dir, None)
    if protocol and ((protocol.get("minWriterVersion", 2) or 2) > 2):
        raise DeltaProtocolError(
            f"delta table {path} needs writer protocol "
            f"v{protocol['minWriterVersion']} — not supported by the "
            "pure-Python fallback")
    part_cols = list(meta.get("partitionColumns") or [])
    # copy-on-write DML keys its touched-file split on _metadata, which
    # needs the snapshot to be ONE file scan: column-mapped tables and
    # non-hive partition layouts read as unions of literal-attached
    # scans (read_delta_snapshot fallback branch) — refuse loudly
    mapping = (meta.get("configuration") or {}).get(
        "delta.columnMapping.mode", "none")
    if mapping != "none":
        raise DeltaProtocolError(
            f"row-level DML on column-mapped delta table {path} is not "
            "supported by the pure-Python fallback — deploy the connector")
    if part_cols and adds and not all(
            all(f"{c}=" in urllib.parse.unquote(p) for c in part_cols)
            for p in adds):
        raise DeltaProtocolError(
            f"row-level DML on {path} needs hive-style partition layout "
            "(col=val dirs); this table stores partition values only in "
            "the log — deploy the connector")
    return meta, adds, part_cols


def _with_fp(df: DataFrame) -> DataFrame:
    """Append the scanned-file path VERBATIM as ``_fp``.  Must be
    applied to the file-source scan BEFORE any join — `_metadata` is a
    hidden file-source column that does not reliably propagate through
    other operators.  No per-row normalization: the collected distinct
    set is file-list-scale, so any file:-prefix stripping happens
    driver-side in `_affected_files` (a per-row regexp over the scan
    measured ~25% of the wall in tools/probe_dml.py)."""
    return df.withColumn("_fp", F.col("_metadata.file_path"))


def _affected_files(
    hits: DataFrame, path: str, adds: dict
) -> tuple[list[str], list[str]]:
    """The copy-on-write unit: distinct FILES (from ``hits``' ``_fp``
    column — the frame restricted to matching rows) and the quoted
    rel-paths of their `add` actions.  Collected — a file-list-scale
    driver materialization, never rows.  Only touched files are ever
    rewritten — an untouched 100 TB tail stays untouched."""
    abs_to_rel = {
        os.path.abspath(os.path.join(path, urllib.parse.unquote(p))): p
        for p in adds}
    affected_abs = []
    affected_rel = []
    for r in hits.select("_fp").distinct().collect():
        # driver-side, tiny set: strip the file: scheme AND percent-
        # decode — `_metadata.file_path` is a URI, so a partition value
        # with a space scans as %20 while the log (and the filesystem)
        # hold the literal path; without the unquote, DML on such
        # partitioned tables refused every touched file (r11)
        a = urllib.parse.unquote(re.sub(r"^file:(//)?", "", r["_fp"]))
        rel = abs_to_rel.get(os.path.abspath(a))
        if rel is None:
            raise DeltaProtocolError(
                f"scanned file {a} is not in the snapshot's add set — "
                "refusing to rewrite files the log does not own")
        affected_abs.append(a)
        affected_rel.append(rel)
    return affected_abs, affected_rel


def _scan_affected(
    spark: SparkSession, path: str, meta: dict, affected_abs: list[str]
) -> DataFrame:
    """Direct scan of ONLY the touched files for the rewrite pass —
    never a filtered full-table scan (a `_fp IN (...)` filter over a
    derived `_metadata` column does not prune at the source, so at
    100 TB it would re-read the whole table to rewrite 0.1% of it).
    Partitioned tables scan with basePath so partition columns
    reappear; the declared log schema is supplied, never inference."""
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    r = spark.read.schema(schema)
    if meta.get("partitionColumns"):
        r = r.option("basePath", path)
    return r.parquet(*sorted(affected_abs))


def _footer_rows(path: str, rel_paths: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, urllib.parse.unquote(p)))
        .num_rows for p in rel_paths)


def delete_delta(spark: SparkSession, path: str, predicate: str) -> dict:
    """Row-level DELETE, real Delta's copy-on-write model (protocol-v1
    tables have no merge-on-read): rewrite ONLY the data files that
    contain a matching row — survivors of each touched file re-staged
    through the same parallel writer path as `write_delta`, then one
    atomic commit of `remove`(touched) + `add`(rewritten).  Untouched
    files are never read twice nor rewritten, so a 0.1% predicate at
    100 TB costs one scan + a rewrite of the touched slice, and the
    commit is invisible-or-complete to every reader.  Rows where the
    predicate is NULL survive (SQL DELETE semantics).  Partitioned
    tables rewrite hive-style into their own partitions; a predicate
    over partition columns prunes to those files.  Earlier versions
    keep time-traveling to the pre-delete rows until `vacuum_delta`
    reclaims the removed files (age-guarded).  A predicate matching
    nothing commits NO version.  Returns
    ``{"deleted_rows": N, "version": v}``."""
    _meta, adds, part_cols = _writable_snapshot(spark, path)
    log_dir = os.path.join(path, "_delta_log")
    cur = _next_version(log_dir) - 1
    if not adds:
        return {"deleted_rows": 0, "version": cur}
    wide = _with_fp(read_delta_snapshot(spark, path))
    hit = F.coalesce(F.expr(predicate), F.lit(False))
    affected_abs, affected_rel = _affected_files(
        wide.filter(hit), path, adds)
    if not affected_rel:
        return {"deleted_rows": 0, "version": cur}

    survivors = _scan_affected(spark, path, _meta, affected_abs).filter(~hit)
    n_before = _footer_rows(path, affected_rel)
    new_adds = _stage_and_adopt(survivors, path, part_cols)
    n_after = _footer_rows(path, [a["path"] for a in new_adds])

    version = _next_version(log_dir)
    actions = [{"remove": {"path": p, "dataChange": True,
                           "deletionTimestamp": 0}}
               for p in sorted(affected_rel)]
    actions += [{"add": a} for a in new_adds]
    _commit_actions(log_dir, version, actions)
    return {"deleted_rows": n_before - n_after, "version": version}


def merge_delta(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    txn: tuple[str, int] | None = None,
) -> dict:
    """Key-based MERGE (upsert): ``WHEN MATCHED THEN UPDATE ALL / WHEN
    NOT MATCHED THEN INSERT ALL`` in ONE commit, copy-on-write like
    real Delta on protocol-v1 tables: files containing a matched key
    are rewritten WITHOUT the matched rows, every source row is staged
    as new files, and a single atomic commit records
    `remove`(touched) + `add`(rewritten + inserted).  Only touched
    files rewrite — the semi-join keyed on ``on`` decides the touched
    set, so an upsert of a 0.1% source leaves the other 99.9% of files
    alone.  Contracts mirror `merge_iceberg`: source schema must match
    the table's declared schema (raises), ``on`` columns must exist
    (raises), NULL keys never match (insert), duplicate source keys
    append every copy, an absent table degrades to a plain create.
    Earlier versions keep time-traveling until `vacuum_delta`.
    ``txn`` records the protocol's streaming-idempotence marker in the
    same commit (see `write_delta`) — the hook
    `streaming.ingest.stream_upsert_to_delta` builds on.  Returns
    ``{"matched_deleted": N, "appended_rows": M, "version": v}``."""
    on = list(on)
    if not on:
        raise DeltaProtocolError("merge_delta needs at least one key column")
    missing = [c for c in on if c not in source.columns]
    if missing:
        raise DeltaProtocolError(
            f"merge key columns {missing} not in source {source.columns}")

    log_dir = os.path.join(path, "_delta_log")
    exists = os.path.isdir(log_dir) and any(
        _COMMIT_RE.match(f) or _CHECKPOINT_RE.match(f)
        for f in os.listdir(log_dir))
    if not exists:
        v = write_delta(source, path, mode="append", txn=txn)
        return {"matched_deleted": 0, "appended_rows": source.count(),
                "version": v}

    meta, adds, part_cols = _writable_snapshot(spark, path)
    declared = StructType.fromJson(json.loads(meta["schemaString"]))
    if declared != source.schema:
        raise DeltaProtocolError(
            f"merge schema mismatch: table declares "
            f"{declared.simpleString()}, source has "
            f"{source.schema.simpleString()}")

    # the key set drives TWO joins (locate + anti); localCheckpoint so
    # an expensive source pipeline is not recomputed per join (RDD
    # blocks are ContextCleaner-reclaimed at return — leak-safe).  The
    # full source is still evaluated once more by the staging write;
    # checkpoint expensive sources upstream.
    keys = source.select(*on).distinct().transform(barrier)
    affected_abs: list[str] = []
    affected_rel: list[str] = []
    if adds:  # locate touched files via a semi-join on the keys
        wide = _with_fp(read_delta_snapshot(spark, path))
        affected_abs, affected_rel = _affected_files(
            wide.join(keys, on, "left_semi"), path, adds)

    new_adds: list[dict] = []
    n_deleted = 0
    if affected_rel:
        survivors = _scan_affected(spark, path, meta, affected_abs) \
            .join(keys, on, "left_anti")
        n_before = _footer_rows(path, affected_rel)
        new_adds += _stage_and_adopt(survivors, path, part_cols)
        n_deleted = n_before - _footer_rows(
            path, [a["path"] for a in new_adds])

    src_adds = _stage_and_adopt(source, path, part_cols)
    n_appended = _footer_rows(path, [a["path"] for a in src_adds])
    new_adds += src_adds
    if not affected_rel and n_appended == 0:  # empty source, no matches
        return {"matched_deleted": 0, "appended_rows": 0,
                "version": _next_version(log_dir) - 1}

    version = _next_version(log_dir)
    actions = [{"remove": {"path": p, "dataChange": True,
                           "deletionTimestamp": 0}}
               for p in sorted(affected_rel)]
    if txn is not None:  # streaming idempotence marker, as in write_delta
        actions.append({"txn": {"appId": txn[0], "version": int(txn[1])}})
    actions += [{"add": a} for a in new_adds]
    _commit_actions(log_dir, version, actions)
    return {"matched_deleted": n_deleted, "appended_rows": n_appended,
            "version": version}


def delta_history(spark: SparkSession, path: str) -> DataFrame:
    """DESCRIBE HISTORY for the jar-less writer: one row per commit
    version with its action counts — derived by replaying each commit
    file (this writer emits no commitInfo actions, so the operation
    column is inferred from the action shape: metaData-only = table
    change, removes+adds = overwrite/rewrite, adds only = append,
    removes only = delete/expire).  Driver-side log-scale work;
    returns an ordinary DataFrame."""
    log_dir = os.path.join(path, "_delta_log")
    commits = sorted(
        (int(m.group(1)), f) for f in os.listdir(log_dir)
        if (m := _COMMIT_RE.match(f)))
    if not commits:
        raise DeltaProtocolError(f"no delta commits found in {log_dir}")
    rows = []
    for v, fname in commits:
        fp = os.path.join(log_dir, fname)
        n_add = n_remove = n_meta = n_txn = 0
        with open(fp) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                n_add += "add" in a
                n_remove += "remove" in a
                n_meta += "metaData" in a
                n_txn += "txn" in a
        if n_add and n_remove:
            op = "overwrite"
        elif n_add:
            op = "append"
        elif n_remove:
            op = "delete"
        else:
            op = "metadata"
        rows.append((v, int(os.path.getmtime(fp) * 1000), op,
                     n_add, n_remove, n_meta, n_txn))
    return spark.createDataFrame(
        rows, "version long, timestamp_ms long, operation string, "
              "num_added_files int, num_removed_files int, "
              "num_metadata_actions int, num_txn_actions int")
