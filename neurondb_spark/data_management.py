"""Data-management surface (SURVEY §2.11; reference
src/util/data_management.c:38-686: vacuum_vectors, compress_cold_tier,
vector_time_travel, rebalance_index).

Spark/parquet mapping:
- compact: small-file compaction = coalesced rewrite (OPTIMIZE analog)
- tier_cold: rewrite rows older than a cutoff with a quantized vector
  column (int8) — the compress_cold_tier semantic: colder data, cheaper
  bytes, same searchable surface via dequantize-on-read
- snapshot/time_travel: versioned directory snapshots (Delta's
  versionAsOf analog without the Delta dependency)
- rebalance: rewrite partitioned data with a fresh partition count
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark.functions.quantization import int8_scale, vector_to_int8


def atomic_write_json(path: str, obj) -> None:
    """Crash-safe small-file write: serialize to ``path + ".tmp"``, fsync,
    then ``os.replace`` — a reader never observes a truncated or
    interleaved file, and a crash mid-write leaves the old content intact
    (the reference gets this from WAL-logged page writes; on a local FS
    the rename is the commit point, as in :func:`dml_commit`). Every
    index meta.json write goes through here."""
    import json

    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def parquet_files(path: str) -> list[str]:
    """The parquet data files under ``path``, partition dirs included,
    sorted. Names starting with ``_`` or ``.`` are skipped at every level
    (``_SUCCESS``, ``.crc``, staging dirs), the rule Spark's own file
    index applies. A missing ``path`` holds no files."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out += [os.path.join(root, f) for f in files
                if not f.startswith(("_", "."))]
    return sorted(out)


def _footer(f: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        return pq.read_metadata(f)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"neurondb: unreadable parquet footer {f!r}: {e}") from e


def footer_rows(*paths: str) -> int:
    """Row count of the parquet data under ``paths`` (0 when they hold no
    data file), summed from the file footers on the driver: no Spark job,
    one small read per file. A footer that does not parse raises
    ValueError."""
    return sum(_footer(f).num_rows for p in paths for f in parquet_files(p))


def footer_columns(path: str) -> list[str] | None:
    """Column names in the footer of the first data file under ``path``
    (partition columns are not in files), or None when it holds none. One
    footer, the same file Spark would infer a schema from, without the
    job inference runs."""
    files = parquet_files(path)
    return _footer(files[0]).schema.to_arrow_schema().names if files else None


def _as_nullable(t):
    """Spark's ``DataType.asNullable`` on a schema JSON node: every field
    nullable, every array and map value nullable, at every depth."""
    if not isinstance(t, dict):
        return t
    if t["type"] == "struct":
        return {**t, "fields": [{**f, "nullable": True, "type": _as_nullable(f["type"])}
                                for f in t["fields"]]}
    if t["type"] == "array":
        return {**t, "containsNull": True,
                "elementType": _as_nullable(t["elementType"])}
    if t["type"] == "map":
        return {**t, "valueContainsNull": True,
                "keyType": _as_nullable(t["keyType"]),
                "valueType": _as_nullable(t["valueType"])}
    return t


def layout_schema(path: str, part_col: str) -> str:
    """The schema JSON that ``spark.read.parquet(path)`` infers for a layout
    written with ``partitionBy(part_col)``, without the job inference
    runs. The data columns come from the Spark schema in the first data
    file's footer, made nullable as a file read makes them; ``part_col``
    is appended with the type Spark's partition inference gives integer
    directory values: int when every value fits in 32 bits, else bigint;
    null partitions do not count, and only null ones give void. A layout
    with no data file, a footer Spark did not write, or a non-integer
    partition value raises ValueError."""
    import json

    from pyspark.sql import types as T

    files = parquet_files(path)
    if not files:
        raise ValueError(f"neurondb: no parquet data file under {path!r}")
    raw = (_footer(files[0]).metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata"
    )
    if raw is None:
        raise ValueError(f"neurondb: {files[0]!r} holds no Spark schema")
    prefix = part_col + "="
    try:
        values = {
            int(d[len(prefix):])
            for f in files
            for d in os.path.relpath(f, path).split(os.sep)[:-1]
            if d.startswith(prefix) and d != prefix + "__HIVE_DEFAULT_PARTITION__"
        }
    except ValueError as e:
        raise ValueError(
            f"neurondb: non-integer {part_col!r} partition under {path!r}: {e}"
        ) from e
    if not values:
        ptype = T.NullType()
    elif all(-(2 ** 31) <= v < 2 ** 31 for v in values):
        ptype = T.IntegerType()
    else:
        ptype = T.LongType()
    schema = T.StructType.fromJson(_as_nullable(json.loads(raw)))
    return schema.add(part_col, ptype).json()


def read_tombstones(spark: SparkSession, path: str, key_col: str,
                    am: str) -> DataFrame | None:
    """An index's tombstone keys, or None when ``path`` does not exist.
    A key deleted twice appears twice: every consumer is a ``left_anti``
    or ``left_semi`` join, which ignores duplicate keys, so a
    ``distinct`` would only add a shuffle (a job of its own under AQE) to
    each filtered read; a consumer that counts matches dedups itself.
    Read with a known single-column schema (tombstones are always
    written as long keys, :func:`as_tombstone_frame`), so no
    schema-inference job runs. Files that lack ``key_col`` raise: read
    with the known schema they would yield nulls, and the anti-join would
    silently return soft-deleted rows."""
    from pyspark.sql import types as T

    if not os.path.isdir(path):
        return None
    cols = footer_columns(path)
    if cols is not None and key_col not in cols:
        raise ValueError(
            f"neurondb: {am} tombstone files at {path!r} lack the "
            f"recorded key column {key_col!r} (have {cols})"
        )
    schema = T.StructType([T.StructField(key_col, T.LongType())])
    return spark.read.schema(schema).parquet(path)


def as_tombstone_frame(spark: SparkSession, ids, id_col: str) -> DataFrame:
    """Normalize a ``delete()`` ids argument into a single-column long
    DataFrame named ``id_col``, ready to append to a tombstones dir.

    Accepts a Python sequence (the interactive shape — materialized
    driver-side by construction, coalesced to one file) or a DataFrame
    (the streaming-CDC / bulk-purge shape — stays distributed end to
    end; a GDPR purge of millions of ids never visits the driver, the
    reference's bulkdelete contract, NeuronDB/src/index/hnsw_am.c).
    A DataFrame either carries ``id_col`` or is single-column (renamed)."""
    import pandas as pd
    from pyspark.sql import types as T

    if isinstance(ids, DataFrame):
        if id_col in ids.columns:
            src = F.col(id_col)
        elif len(ids.columns) == 1:
            src = F.col(ids.columns[0])
        else:
            raise ValueError(
                f"neurondb: delete ids DataFrame must have column "
                f"{id_col!r} or exactly one column (have {ids.columns})"
            )
        return ids.select(src.cast("long").alias(id_col))
    pdf = pd.DataFrame({id_col: pd.Series(list(ids), dtype="int64")})
    schema = T.StructType([T.StructField(id_col, T.LongType())])
    return spark.createDataFrame(pdf, schema=schema).coalesce(1)


def dml_commit(path: str, staged_meta, *, tombstones: str = "keep",
               partitions: tuple | None = None) -> None:
    """COMMIT POINT for every index mutation: insert, vacuum, compact and
    IVF rebalance, in the HNSW, IVF and LSH AMs alike (the reference gets
    this from WAL-logged page writes, every AM the same way). The caller
    has fully staged ``path/data_tmp`` and, for ``tombstones='replace'``,
    ``path/tombstones_tmp``, plus the complete new meta object, written
    VERBATIM as meta.json (flat for HNSW/LSH,
    ``{"meta","centroids"}`` for IVF): every field that must describe the
    final on-disk state (row count, bucket manifest, tombstone signature)
    is computed before this call. The atomic rename of the journal
    ``dml_commit.json`` is the commit; the idempotent roll-forward
    (:func:`apply_dml_commit`: directory renames plus one atomic meta
    write, no Spark) finishes it, and a crash anywhere after the journal
    is finished by the AM's ``load()``. A crash BEFORE it leaves the live
    index byte-identical (staging dirs are overwritten by the next
    mutation).

    ``partitions=(part_col, [values...])`` selects the PARTITION-SCOPED
    swap: only the listed ``part_col=value`` directories are replaced
    from staging; every other partition of the live layout is never
    opened, rewritten, or even listed. IVF rebalance (the split lists)
    and HNSW insert (the touched shards) commit this way, so the cost
    follows the partitions touched, not the layout size."""
    import json

    journal = {"meta": staged_meta, "tombstones": tombstones}
    if partitions is not None:
        part_col, values = partitions
        journal["part_col"] = str(part_col)
        journal["partitions"] = [str(v) for v in values]
    jtmp = os.path.join(path, "dml_commit.json.tmp")
    with open(jtmp, "w") as f:
        json.dump(journal, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(jtmp, os.path.join(path, "dml_commit.json"))
    apply_dml_commit(path)


def apply_dml_commit(path: str) -> bool:
    """Idempotent roll-forward of a journaled commit: swap the staged
    layout in (whole ``data`` dir, or only the journaled partitions,
    keeping the replaced data in ``dml_trash`` until done), apply the
    tombstone action ('keep' | 'clear' | 'replace'), write the staged
    meta verbatim, then clean staging and drop the journal LAST. The
    journal outlives every step and every rename is guarded by an
    existence check, so a crash at any point is finished by the next
    run. Every AM's ``load()`` calls this before reading meta. Returns
    True when a journal was rolled forward."""
    import json
    import shutil

    jpath = os.path.join(path, "dml_commit.json")
    if not os.path.exists(jpath):
        return False
    with open(jpath) as f:
        journal = json.load(f)
    data = os.path.join(path, "data")
    tmp = os.path.join(path, "data_tmp")
    trash = os.path.join(path, "dml_trash")
    tomb = os.path.join(path, "tombstones")
    tomb_tmp = os.path.join(path, "tombstones_tmp")
    if "partitions" in journal:
        # Partition-scoped swap: replace ONLY the listed part_col=value
        # dirs; untouched partitions are never opened or listed.
        part_col = journal["part_col"]
        for v in journal["partitions"]:
            tmp_p = os.path.join(tmp, f"{part_col}={v}")
            dst_p = os.path.join(data, f"{part_col}={v}")
            if os.path.isdir(tmp_p):
                if os.path.isdir(dst_p):
                    os.makedirs(trash, exist_ok=True)
                    tr = os.path.join(trash, f"{part_col}={v}")
                    if os.path.isdir(tr):  # torn retry: staged copy wins
                        shutil.rmtree(tr)
                    os.rename(dst_p, tr)
                os.rename(tmp_p, dst_p)
    elif os.path.isdir(tmp):
        if os.path.isdir(data):
            if os.path.isdir(trash):  # torn retry: re-stage the trash
                shutil.rmtree(trash)
            os.rename(data, trash)
        os.rename(tmp, data)
    action = journal["tombstones"]
    if action == "replace":
        if os.path.isdir(tomb_tmp):
            if os.path.isdir(tomb):
                shutil.rmtree(tomb)
            os.rename(tomb_tmp, tomb)
    elif action == "clear":
        shutil.rmtree(tomb, ignore_errors=True)
    atomic_write_json(os.path.join(path, "meta.json"), journal["meta"])
    shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(tomb_tmp, ignore_errors=True)  # stale pre-commit stage
    # partition-scoped swaps leave the staging skeleton (_SUCCESS etc.);
    # whole-dir swaps renamed tmp away — either way this is safe, since
    # the journal is only ever written AFTER staging completed
    shutil.rmtree(tmp, ignore_errors=True)
    os.remove(jpath)
    return True


def _swap_in(spark: SparkSession, path: str, tmp: str) -> str:
    """Replace ``path`` with the fully-written ``tmp`` directory, keeping a
    ``.old`` backup until the new data is verified readable.

    Crash contract (local-FS rename swap — on object storage use a table
    format with atomic commit instead): after a crash, at most one of
    {path, path.old} is missing; recover() restores path from the backup.
    The backup is only deleted AFTER a successful schema read of the
    swapped-in data, so a bad write can never destroy the original."""
    import shutil

    spark.read.parquet(tmp).schema  # tmp must be complete + readable
    bak = path.rstrip("/") + ".old"
    if os.path.exists(bak):
        shutil.rmtree(bak)  # stale backup from an interrupted earlier swap
    os.rename(path, bak)
    os.rename(tmp, path)
    try:
        spark.read.parquet(path).schema
    except Exception:
        # swapped-in data unreadable: roll back to the original
        shutil.rmtree(path, ignore_errors=True)
        os.rename(bak, path)
        raise
    shutil.rmtree(bak)
    return path


def recover(path: str) -> bool:
    """Restore ``path`` from its ``.old`` backup after a crash mid-swap.
    Returns True if a recovery happened."""
    bak = path.rstrip("/") + ".old"
    if not os.path.exists(path) and os.path.isdir(bak):
        os.rename(bak, path)
        return True
    return False


def compact(spark: SparkSession, path: str, target_partitions: int = 8) -> str:
    """Small-file compaction: read → coalesce → rewrite, then verified
    backup-keeping swap (see _swap_in)."""
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".compact_tmp"
    df.coalesce(target_partitions).write.mode("overwrite").parquet(tmp)
    return _swap_in(spark, path, tmp)


def tier_cold(
    df: DataFrame, vec_col: str, ts_col: str, cutoff: str,
) -> tuple[DataFrame, DataFrame]:
    """Split hot/cold at the cutoff; cold rows carry the int8-quantized
    vector + scale instead of full floats (≈4× smaller)."""
    hot = df.where(F.col(ts_col) >= F.lit(cutoff).cast("timestamp"))
    cold = df.where(F.col(ts_col) < F.lit(cutoff).cast("timestamp")).withColumn(
        "vec_int8", vector_to_int8(vec_col)
    ).withColumn("vec_scale", int8_scale(vec_col)).drop(vec_col)
    return hot, cold


def snapshot(spark: SparkSession, df: DataFrame, base_dir: str) -> int:
    """Write a new immutable version; returns the version id."""
    existing = [
        int(d.split("=")[1])
        for d in os.listdir(base_dir)
        if d.startswith("v=")
    ] if os.path.isdir(base_dir) else []
    version = (max(existing) + 1) if existing else 0
    df.write.mode("errorifexists").parquet(os.path.join(base_dir, f"v={version}"))
    return version


def time_travel(spark: SparkSession, base_dir: str, version: int) -> DataFrame:
    """vector_time_travel analog: read an old snapshot."""
    p = os.path.join(base_dir, f"v={version}")
    if not os.path.isdir(p):
        raise ValueError(f"neurondb: no snapshot version {version}")
    return spark.read.parquet(p)


def rebalance(spark: SparkSession, path: str, partition_col: str, n: int) -> str:
    """rebalance_index analog: rewrite with n partitions per key range,
    then verified backup-keeping swap (see _swap_in)."""
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".rebalance_tmp"
    df.repartition(n, partition_col).write.mode("overwrite").parquet(tmp)
    return _swap_in(spark, path, tmp)


def apply_changes(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
    validate: bool = True,
) -> DataFrame:
    """Relational MERGE (last-writer-wins upsert/delete) — the table-level
    twin of the index CDC drain (streaming/index_ingest.py applies the
    same i/d semantics to index artifacts; reference analog: WAL-replayed
    DML, NeuronDB/src/storage/vector_wal.c, and the UPDATE/DELETE surface
    a PG table gets for free). Delta's ``MERGE INTO`` shape without the
    Delta dependency:

    - ``changes`` rows carry ``op_col`` ∈ {'i','u','d'} (insert, upsert,
      delete — 'i' and 'u' are both upserts: last writer wins on key
      collision, so a replayed batch is idempotent).
    - With ``seq_col``, the highest-sequence change per key wins (the CDC
      ordering column); without it the change batch must have one row per
      key and raises otherwise, because "arbitrary row wins" is a silent
      correctness bug at any scale.

    Scale: one window (or validation aggregate) over the CHANGE batch —
    typically tiny next to the table — and one shuffle-on-key anti-join
    of base vs change keys. No full-table rewrite logic here: writers
    pair this with snapshot()/dml_commit for atomicity."""
    for c in (*key_cols, op_col, *([seq_col] if seq_col else [])):
        if c not in changes.columns:
            raise ValueError(f"neurondb: changes is missing column {c!r}")
    # validate=False skips the two bounded validation jobs — for callers
    # that validate the batch once and then apply per-bucket slices of it
    # (streaming/table_merge.py), where per-slice re-checks would multiply
    # the job count for no new information.
    if validate:
        bad_ops = changes.where(~F.col(op_col).isin("i", "u", "d")).limit(1)
        if bad_ops.count() > 0:
            raise ValueError(
                f"neurondb: {op_col!r} must be one of 'i'/'u'/'d'"
            )
    if seq_col is not None:
        from pyspark.sql import Window as W

        # Highest seq wins; ties on seq within a batch break on a stable
        # hash of the row's op + payload so the winner is DETERMINISTIC
        # across re-runs/replays (the docstring's idempotency claim). A
        # tie between fully-identical rows is harmless either way; a tie
        # between differing rows is a malformed feed, and picking the
        # same one every time is the best recoverable behavior.
        payload = [c for c in changes.columns
                   if c not in (*key_cols, seq_col)]
        w = W.partitionBy(*key_cols).orderBy(
            F.col(seq_col).desc(), F.xxhash64(*payload).desc()
        )
        latest = (
            changes.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        if validate:
            dupes = (
                changes.groupBy(*key_cols)
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") > 1)
                .limit(1)
            )
            if dupes.count() > 0:
                raise ValueError(
                    "neurondb: change batch has multiple rows per key and "
                    "no seq_col to order them — pass seq_col for "
                    "last-writer-wins"
                )
        latest = changes
    keys = latest.select(*key_cols)
    survivors = base.join(keys, key_cols, "left_anti")
    upserts = (
        latest.where(F.col(op_col) != "d")
        .drop(op_col, *([seq_col] if seq_col else []))
        .select(*base.columns)
    )
    return survivors.unionByName(upserts)
