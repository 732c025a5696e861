"""Delta-log stores: one spec (`DeltaLog`) for every incremental-store
family, and the shared write, replay-aware read, fold and compaction.

A delta log is a directory of SLOTS. Each ingested batch writes one slot
of pre-aggregated delta rows; every read folds the whole log with the
family's associative aggregate. A family declares its log(s) as module
constants and keeps only what differs: its per-batch `deltas(batch)`,
its decision logic, and any non-additive post-fold step.

| family      | module      | log     | key_cols  | fold                  | stream slot      |
|-------------|-------------|---------|-----------|-----------------------|------------------|
| bigram LM   | ngram_lm    | bigrams | bigram    | n:sum                 | tag=b{id}        |
|             |             | tokens  | tok       | n_tok:sum, n_hist:sum | tag=b{id}        |
| DSIR        | dsir        | {role}  | bucket    | n:sum                 | tag={role}-b{id} |
| DoReMi      | curation    | .       | domain    | n:sum, s:sum          | tag=batch-{id}   |
| badwords    | curation    | .       | domain    | n:sum, f:sum, h:sum   | tag=batch-{id}   |
| exact dedup | incremental | .       | fp        | min_id:min,           | tag=b{id}        |
|             |             |         |           | n_copies:sum          |                  |
| near-dup    | incremental | .       | every col | set (DISTINCT)        | batch_id={id}    |
| line dedup  | linededup   | .       | seg_hash  | n_docs:sum            | batch_id={id}    |
| span dedup  | spandedup   | .       | win_hash  | n_docs:sum            | batch_id={id}    |

("log" is the log's directory under the family's store_dir.)

Slot dialects (`DeltaLog.write`):

| dialect  | slot directory   | written with                                         |
|----------|------------------|------------------------------------------------------|
| TAG      | `tag=<safe tag>` | plain overwrite of that directory                    |
| BATCH_ID | `batch_id=<n>`   | partitionBy(batch_id) + dynamic partition overwrite  |
| (none)   | loose part-files | append at the log root (batch mode, never replayed)  |

Reads always scan recursively, so a batch_id slot never surfaces as a
column. A batch with no slot id appends loose files; pick one mode per
store — a slot-keyed replay against a store holding loose files raises
DeltaStoreModeError, since no slot name can exclude those rows.

Replay contract. foreachBatch delivery is at-least-once; a micro-batch
uses its batch id as its slot id (`DeltaLog.stream_slot`), so a replay
rewrites its own slot and nothing else. Before writing, an ingest reads
`DeltaLog.history(..., slot_id)`: the log minus its own slot, i.e. the
store exactly as it stood before the crashed attempt — otherwise the
replay would see its own rows as history. `history` returns None only
when the FS probe (`store_exists`) finds no store; any other read
failure raises, so a corrupt store never reads as "first ingest".
Kept-output families write the kept rows to the batch_id=<n> slot of
their kept sink the same way (`ingest_and_keep`), so store and sink
together are effectively-once. Concurrency: single writer per slot id.
A sequential same-id rewrite is a replay (last writer wins); concurrent
DISTINCT ids are safe (independent directories, associative fold);
concurrent same-id writers are out of contract, with damage confined to
that slot and healed by one sequential replay
(tests/test_store_concurrency.py).

Compaction. A read is O(#slots) file listings and scans: a year-long
crawl at one batch per minute accumulates ~500k slots. `compact_delta_store`
(`DeltaLog.compact`) folds the old slots into ONE consolidated slot
holding the same fold the readers compute, so reads are bit-equal before
and after (exact-integer SUM/MIN/MAX and DISTINCT are associative under
any regrouping). The crash-safety discipline is the
`checkpoint_versioned` one (operators/upsert.py): the consolidated rows
land in a HIDDEN directory first (underscore-prefixed — invisible to
Spark's file index, hence to every reader), then a single atomic rename
publishes a manifest naming the folded slots; readers always act on the
newest manifest. A crash before the publish changes nothing a reader can
see; a crash after it (mid-vacuum) leaves folded slots that readers
already exclude by name.

Store layout after n compactions::

    store_dir/
      _compactions/0000000n.json   <- newest manifest wins
      _compacted/0000000n/         <- consolidated rows (hidden dir)
      tag=.../ | batch_id=.../     <- live tail slots (not yet folded)

Manifest: {"gen": n, "folded": [every slot name ever folded],
"rows_dir": "_compacted/0000000n"}. `folded` is CUMULATIVE, so a reader
needs only the newest manifest: current state = consolidated rows +
(root slots minus folded).

- Compaction is a MAINTENANCE operation: one compactor at a time, and
  only over slots whose batches are COMMITTED. `keep_slots` (default 1)
  always leaves the newest slots unfolded, so a replay of the in-flight
  batch never finds its slot folded. If a replay DOES name a folded
  slot, the read raises `CompactedSlotReplayError` instead of silently
  double-counting.
- Concurrent ingest of NEW slots during compaction is safe: a slot
  written after the compactor listed the root is not a fold candidate
  and stays live.
- Vacuum (on by default) deletes the folded slot files after the
  manifest publish. A reader that planned its scan before the publish
  and acts after the vacuum can hit a missing-file error — the same
  window every slot overwrite already has; schedule compaction in the
  ingest maintenance loop, or pass vacuum=False and call
  `vacuum_delta_store` later.

The reference system has no continuous-ingest store at all (its DAG
recomputes from sources each run — airflow/dags/zara_hybrid_etl.py);
these stores exist for the 100 TB crawl case where recomputing history
is not an option.
"""

from __future__ import annotations

import functools
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.operators.upsert import _hfs, _join, _read_commit

_COMPACTIONS = "_compactions"
_COMPACTED = "_compacted"

_AGG_FNS = {"sum": F.sum, "min": F.min, "max": F.max}

TAG = "tag"
BATCH_ID = "batch_id"


class CompactedSlotReplayError(RuntimeError):
    """A replay asked to exclude a slot that compaction already folded —
    the store can no longer reconstruct the pre-batch view, so reading on
    would double-count the batch against its own folded delta. Fold only
    committed batches (keep_slots guards the in-flight tail)."""


class DeltaStoreModeError(RuntimeError):
    """Slot-keyed exclusion was requested on a store that (also) holds
    LOOSE appended files — rows that no slot name can ever exclude, so
    the replay guarantee would silently degrade (e.g. a store first
    written with batch_id=None, then ingested with a batch_id). Pick one
    mode per store: always tagged/batched, or never."""


def _safe_tag(batch_tag: str) -> str:
    return "".join(
        ch if ch.isalnum() or ch in "-_." else "_" for ch in batch_tag
    )


def store_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe (portable to HDFS/S3 URIs) — the one
    "first ingest?" decision every store makes. Anything else that goes
    wrong reading an existing store must raise, never read as empty."""
    fs, P = _hfs(spark, path)
    return bool(fs.exists(P(path)))


def write_batch_slot(df: DataFrame, out_dir: str, batch_id: int) -> None:
    """Write `df` as the `batch_id=<n>` slot of `out_dir` with dynamic
    partition overwrite: a replayed batch replaces its own slot and
    leaves every other one alone. The slot files carry no batch_id
    column; partition discovery restores it for plain parquet reads."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def _scan(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.option("recursiveFileLookup", "true").parquet(path)


def _fold(rows: DataFrame, key_cols, agg) -> DataFrame:
    if not agg:
        return rows.select(*key_cols).distinct()
    return rows.groupBy(*key_cols).agg(*[_AGG_FNS[fn](c).alias(c) for c, fn in agg])


@dataclass(frozen=True)
class DeltaLog:
    """One delta log's spec: its key columns, its fold — the
    [(col, "sum"|"min"|"max")] list, () for the set fold (DISTINCT over
    key_cols; key_cols=None means every column) — and its slot dialect,
    TAG (`tag=<prefix><id>`, overwrite) or BATCH_ID (`batch_id=<n>`,
    dynamic partition overwrite). A slot id of None appends loose
    part-files to the log root instead (batch mode, never replayed)."""

    key_cols: tuple[str, ...] | None
    agg: tuple[tuple[str, str], ...]
    slot: str
    prefix: str = ""

    def slot_name(self, slot_id) -> str | None:
        if slot_id is None:
            return None
        if self.slot == TAG:
            return f"tag={_safe_tag(slot_id)}"
        return f"batch_id={int(slot_id)}"

    def stream_slot(self, batch_id: int) -> dict:
        """The ingest keyword that files micro-batch `batch_id` under its
        slot: batch_tag=<prefix><id> or batch_id=<id>."""
        if self.slot == TAG:
            return {"batch_tag": f"{self.prefix}{batch_id}"}
        return {"batch_id": int(batch_id)}

    def write(self, deltas: DataFrame, log_dir: str, slot_id=None) -> None:
        if slot_id is None:
            deltas.write.mode("append").parquet(log_dir)
        elif self.slot == TAG:
            deltas.write.mode("overwrite").parquet(f"{log_dir}/{self.slot_name(slot_id)}")
        else:
            write_batch_slot(deltas, log_dir, slot_id)

    def history(self, spark, log_dir: str, slot_id=None) -> DataFrame | None:
        """The log's unfolded rows minus slot `slot_id` — what a replay
        of that slot must see — or None when no store exists yet."""
        entries = _root_entries(spark, log_dir)
        if entries is None:
            return None
        return _read_unfolded(spark, log_dir, entries, self.slot_name(slot_id))

    def fold(self, rows: DataFrame) -> DataFrame:
        return _fold(rows, self.key_cols or rows.columns, self.agg)

    def read(self, spark, log_dir: str, slot_id=None) -> DataFrame:
        """The folded current state (minus slot `slot_id`); a missing
        store raises the engine's PATH_NOT_FOUND AnalysisException."""
        rows = read_delta_store(spark, log_dir, exclude_slot=self.slot_name(slot_id))
        return self.fold(rows)

    def compact(self, spark, log_dir: str, **kwargs) -> dict:
        return compact_delta_store(
            spark, log_dir, key_cols=self.key_cols, agg=list(self.agg), **kwargs
        )


def foreach_batch(stream: DataFrame, checkpoint_dir: str, handle, **kwargs):
    """`stream`'s DataStreamWriter running handle(batch_df, batch_id,
    **kwargs) per micro-batch, checkpointed at `checkpoint_dir` — call
    .trigger(...).start()."""
    return stream.writeStream.foreachBatch(
        functools.partial(handle, **kwargs)
    ).option("checkpointLocation", checkpoint_dir)


def ingest_and_keep(
    batch_df: DataFrame, batch_id: int, *, ingest, log: DeltaLog,
    store_dir: str, kept_dir: str, **kwargs,
) -> None:
    """One micro-batch of a family whose ingest returns kept rows: fold
    it into the store under its stream slot, then write the kept rows to
    the `batch_id=<n>` slot of `kept_dir`. Both side effects replace
    their own slot, so at-least-once delivery composes to
    effectively-once."""
    kept = ingest(
        batch_df.sparkSession, batch_df, store_dir,
        **log.stream_slot(batch_id), **kwargs,
    )
    write_batch_slot(kept, kept_dir, batch_id)


def _root_entries(spark: SparkSession, store_dir: str) -> list[dict] | None:
    """Non-hidden direct children of the store root, or None if the store
    directory does not exist. Hidden names (`_`/`.` prefix) are exactly
    the ones Spark's file index skips — the manifest and consolidated
    rows live there, invisible to readers that don't ask for them."""
    if not store_exists(spark, store_dir):
        return None
    fs, P = _hfs(spark, store_dir)
    out = []
    for st in fs.listStatus(P(store_dir)):
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append(
            {
                "name": name,
                "is_file": bool(st.isFile()),
                "mtime": int(st.getModificationTime()),
            }
        )
    return out


def load_compaction_manifest(spark: SparkSession, store_dir: str) -> dict | None:
    """The NEWEST published compaction manifest, or None. Readers never
    need older ones: `folded` is cumulative by construction."""
    cdir = _join(store_dir, _COMPACTIONS)
    if not store_exists(spark, cdir):
        return None
    fs, P = _hfs(spark, cdir)
    names = sorted(
        st.getPath().getName()
        for st in fs.listStatus(P(cdir))
        if st.getPath().getName().endswith(".json")
        and not st.getPath().getName().startswith(".")
    )
    if not names:
        return None
    return _read_commit(fs, P, spark._jvm, _join(cdir, names[-1]))


def _exclusion_filter(df: DataFrame, drop: list[dict]) -> DataFrame:
    """Row-level exclusion of specific root entries from a recursive read
    — the same input_file_name seam every tagged replay read already
    uses; `drop` is small by construction (vacuum residue + at most one
    replay slot), so this never becomes an O(#slots) predicate."""
    cond = None
    for e in drop:
        c = (
            F.input_file_name().endswith("/" + e["name"])
            if e["is_file"]
            else F.input_file_name().contains("/" + e["name"] + "/")
        )
        cond = c if cond is None else (cond | c)
    return df if cond is None else df.where(~cond)


def read_delta_store(
    spark: SparkSession, store_dir: str, *, exclude_slot: str | None = None
) -> DataFrame:
    """The store's current UNFOLDED delta rows — consolidated rows (if a
    compaction manifest exists) plus every live slot — with `exclude_slot`
    (a slot name like 'tag=batch-7' or 'batch_id=7') dropped: the replay
    seam. Callers apply their fold on top; with no manifest this is one
    recursive parquet read. A missing store raises the engine's own
    PATH_NOT_FOUND AnalysisException (`DeltaLog.history` returns None).

    Raises CompactedSlotReplayError if the excluded slot was already
    folded, and DeltaStoreModeError if slot exclusion is requested while
    loose (slot-less) appended files exist."""
    entries = _root_entries(spark, store_dir)
    if entries is None:
        # missing store: surface the genuine PATH_NOT_FOUND AnalysisException
        return _scan(spark, store_dir)
    return _read_unfolded(spark, store_dir, entries, exclude_slot)


def _read_unfolded(
    spark: SparkSession, store_dir: str, entries: list[dict], exclude_slot: str | None
) -> DataFrame:
    """`read_delta_store` over an existing store whose root `entries`
    (`_root_entries`) were already listed."""
    man = load_compaction_manifest(spark, store_dir)
    if man is None and not entries:
        # empty-but-existing dir: surface the genuine schema-inference error
        return _scan(spark, store_dir)
    folded = set(man["folded"]) if man else set()
    if exclude_slot is not None:
        if exclude_slot in folded:
            raise CompactedSlotReplayError(
                f"slot {exclude_slot!r} of store {store_dir!r} was folded by "
                f"compaction gen {man['gen']}; the pre-batch view no longer "
                "exists — fold only committed batches (keep_slots)"
            )
        loose = [e["name"] for e in entries if e["is_file"]]
        if loose:
            raise DeltaStoreModeError(
                f"store {store_dir!r} holds loose appended files "
                f"({loose[:3]}...) that slot exclusion can never drop; "
                "replaying with a slot id against a loose-append store "
                "silently double-counts history"
            )
    drop = [e for e in entries if e["name"] in folded or e["name"] == exclude_slot]
    parts = []
    if man is not None:
        parts.append(_scan(spark, _join(store_dir, man["rows_dir"])))
    if entries:
        # read the tail even when every entry is dropped — a replay that
        # excludes the store's ONLY slot must see an EMPTY frame with the
        # store's schema (the pre-batch view)
        parts.append(_exclusion_filter(_scan(spark, store_dir), drop))
    return functools.reduce(DataFrame.unionByName, parts)


def _count_data_files(spark: SparkSession, store_dir: str) -> int:
    """Visible (non-hidden-path) data files under the store — what a
    reader's file index must list; the cost metric compaction exists to
    shrink."""
    if not store_exists(spark, store_dir):
        return 0
    fs, P = _hfs(spark, store_dir)
    n = 0
    stack = [P(store_dir)]
    while stack:
        d = stack.pop()
        for st in fs.listStatus(d):
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            if st.isFile():
                n += 1
            else:
                stack.append(st.getPath())
    return n


def compact_delta_store(
    spark: SparkSession,
    store_dir: str,
    *,
    key_cols: list[str] | None,
    agg: list[tuple[str, str]],
    keep_slots: int = 1,
    protect_slots: tuple[str, ...] = (),
    vacuum: bool = True,
    num_files: int | None = None,
) -> dict:
    """Fold all committed slots of the delta-log store at `store_dir` into
    one consolidated hidden slot and publish the manifest. `agg` is the
    family's fold, [(col, 'sum'|'min'|'max'), ...] — the same associative
    aggregate its readers apply, so reads before and after are bit-equal
    under any batch slicing. `keep_slots` newest slots (by FS mtime) stay
    unfolded for the in-flight replay seam; `protect_slots` names more.

    Protocol (crash-safe at every step boundary):
      1. write fold(prev consolidated + candidate slots) to the hidden
         `_compacted/<gen>` dir — invisible to readers; a crash here
         leaves an orphan the next attempt overwrites;
      2. publish `_compactions/<gen>.json` via tmp + atomic rename — the
         single visibility switch (the checkpoint_versioned discipline);
      3. vacuum the folded slot files (readers already exclude them by
         name, so a partial vacuum is harmless).

    Returns {"gen", "slots_folded", "slots_live", "data_files_before",
    "data_files_after"}; gen=0 means nothing to fold (no-op)."""
    if keep_slots < 0:
        raise ValueError("keep_slots must be >= 0")
    for _c, fn in agg:
        if fn not in _AGG_FNS:
            raise ValueError(f"unknown agg fn {fn!r}; pick from {sorted(_AGG_FNS)}")
    # agg=[] is the SET-store fold: rows are facts with no counts (e.g. the
    # near-dup band postings), so consolidation is DISTINCT over key_cols
    # (None: every column) — idempotent and associative like the integer
    # folds, and bit-equal for every reader that treats the store as a set
    entries = _root_entries(spark, store_dir)
    if entries is None:
        return {"gen": 0, "slots_folded": 0, "slots_live": 0,
                "data_files_before": 0, "data_files_after": 0}
    files_before = _count_data_files(spark, store_dir)
    man = load_compaction_manifest(spark, store_dir)
    folded = set(man["folded"]) if man else set()
    live = sorted(
        (e for e in entries if e["name"] not in folded),
        key=lambda e: (e["mtime"], e["name"]),
    )
    protected = set(protect_slots)
    if keep_slots:
        protected.update(e["name"] for e in live[max(0, len(live) - keep_slots):])
    candidates = [e for e in live if e["name"] not in protected]
    if not candidates:
        return {"gen": man["gen"] if man else 0, "slots_folded": 0,
                "slots_live": len(live),
                "data_files_before": files_before,
                "data_files_after": files_before}
    gen = (man["gen"] + 1) if man else 1

    # 1. fold: previous consolidated rows + candidate slots, one recursive
    # read with the (small) protected/folded residue filtered out
    drop = [e for e in entries if e["name"] in folded or e["name"] in protected]
    tail = _exclusion_filter(_scan(spark, store_dir), drop)
    if man is not None:
        tail = _scan(spark, _join(store_dir, man["rows_dir"])).unionByName(tail)
    key_cols = key_cols or tail.columns
    consolidated = _fold(tail, key_cols, agg)
    if num_files is not None:
        consolidated = consolidated.repartition(num_files, *key_cols)
    rows_dir = f"{_COMPACTED}/{gen:08d}"
    consolidated.write.mode("overwrite").parquet(_join(store_dir, rows_dir))

    # 2. publish the manifest — the atomic visibility switch
    new_folded = sorted(folded | {e["name"] for e in candidates})
    manifest = {"gen": gen, "folded": new_folded, "rows_dir": rows_dir}
    cdir = _join(store_dir, _COMPACTIONS)
    fs, P = _hfs(spark, cdir)
    fs.mkdirs(P(cdir))
    tmp = P(_join(cdir, f".tmp_{gen:08d}.json"))
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(manifest).encode("utf-8")))
    finally:
        out.close()
    dst = P(_join(cdir, f"{gen:08d}.json"))
    if fs.exists(dst) or not fs.rename(tmp, dst):
        fs.delete(tmp, False)
        raise RuntimeError(
            f"concurrent compaction detected at {store_dir!r} gen {gen} — "
            "compaction is single-maintainer by contract"
        )

    # 3. vacuum the folded files (already invisible to readers)
    if vacuum:
        vacuum_delta_store(spark, store_dir)
    return {
        "gen": gen,
        "slots_folded": len(candidates),
        "slots_live": len(live) - len(candidates),
        "data_files_before": files_before,
        "data_files_after": _count_data_files(spark, store_dir),
    }


def vacuum_delta_store(spark: SparkSession, store_dir: str) -> int:
    """Delete folded slots (per the newest manifest) still present at the
    store root, plus superseded `_compacted/<gen>` dirs. Safe at any time
    after a manifest publish — readers exclude these names already.
    Returns the number of entries deleted."""
    man = load_compaction_manifest(spark, store_dir)
    if man is None:
        return 0
    fs, P = _hfs(spark, store_dir)
    folded = set(man["folded"])
    deleted = 0
    for st in fs.listStatus(P(store_dir)):
        if st.getPath().getName() in folded:
            fs.delete(st.getPath(), True)
            deleted += 1
    comp = _join(store_dir, _COMPACTED)
    keep = man["rows_dir"].split("/")[-1]
    if store_exists(spark, comp):
        for st in fs.listStatus(P(comp)):
            if st.getPath().getName() != keep:
                fs.delete(st.getPath(), True)
                deleted += 1
    return deleted
