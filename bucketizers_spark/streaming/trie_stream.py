"""Incremental streaming substring/token trie (M4/M5): per-micro-batch
cascade in ``foreachBatch`` with a persistent node-counter table.

Why not applyInPandasWithState: trie placement needs *cross-key*
coordination per level (overflow at node n feeds node n·c), which keyed
state cannot express without one shuffle per level anyway. foreachBatch
gives the same micro-batch boundaries plus a transactional point to
persist the (small) counters table together with the sink's batch manifest
— so counters, output, and offsets commit atomically enough for
exactly-once replay (a replayed batch recomputes from the *pre-batch*
counter snapshot, versioned per batch id).

Counter-table layout: ``<state_dir>/counters/v=<batch_id>/`` holds one
parquet file of (node, cnt). Batch k reads the latest committed version
< k, runs the state-aware cascade (operators/substring.py), writes version
k. Replay of batch k rereads version k-1 → identical output. Chunked
seq-ordered input (sources/stream.py) makes the result byte-equal to the
batch cascade over the concatenated stream — pytest-pinned.

Per-batch cost: the cascade emits each touched node's post-batch count
as a narrow select over its level's lineage-cut frame, untouched nodes
carry over through a broadcast anti-join, and the new version is written
as one file straight from that plan — no persist, no count job. The
literal root counter row and every empty frame are JVM constant frames
(operators/core.const_frame), so a batch starts no Python process.

Scale: the counters table holds one row per trie node ever created —
O(members/page_size) worst case, read+broadcast whole per batch (hence
one file per version); at production scale it would page into a keyed
join instead of a broadcast.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bucketizers_spark.operators.substring import substring_trie, token_prefix_trie
from bucketizers_spark.sinks.idempotent import IdempotentParquetSink


class TrieStreamJob:
    def __init__(
        self,
        sink_root: str,
        state_dir: str,
        *,
        mode: str = "token",  # "token" | "char"
        value_col: str = "tokens",
        page_size: int = 50,
        max_depth: int = 8,
        root: str = "root",
        parent_col: str | None = None,
        salt_buckets: int = 0,
        tail_threshold: int = 100_000,
    ):
        self.sink = IdempotentParquetSink(sink_root)
        self.rel_sink = IdempotentParquetSink(os.path.join(sink_root, "_relations"))
        self.state_dir = state_dir
        self.mode = mode
        self.value_col = value_col
        self.page_size = page_size
        self.max_depth = max_depth
        self.root = root
        # per-parent child-trie mode (MultiBucketizer.ts:94-96 under
        # streaming): one dedicated trie instance per parent bucket,
        # counters keyed parent\x1fnode (operators/substring._PSEP)
        self.parent_col = parent_col
        # cascade knobs (operators/substring._run_cascade): salts per
        # distributed level (0 = DEFAULT_SALT_BUCKETS), so a zipf-hot
        # leading token spreads over that many tasks, and the row count
        # at which the grouped walk finishes the batch — same as batch
        self.salt_buckets = salt_buckets
        self.tail_threshold = tail_threshold
        os.makedirs(os.path.join(state_dir, "counters"), exist_ok=True)

    # -- counter versions ---------------------------------------------------
    def _latest_counters(self, spark: SparkSession, before_batch: int):
        versions = sorted(
            int(os.path.basename(p).split("=")[1])
            for p in glob.glob(os.path.join(self.state_dir, "counters", "v=*"))
            if os.path.exists(os.path.join(p, "_SUCCESS"))
        )
        versions = [v for v in versions if v < before_batch]
        if not versions:
            return None
        path = os.path.join(self.state_dir, "counters", f"v={versions[-1]}")
        return spark.read.parquet(path)

    def _write_counters(self, updates: DataFrame, batch_id: int):
        path = os.path.join(self.state_dir, "counters", f"v={batch_id}")
        updates.coalesce(1).write.mode("overwrite").parquet(path)

    # -- the micro-batch handler --------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        if batch_id in self.sink.committed_batches():
            return  # replayed and already fully committed — exactly-once
        # the cascade runs several actions (thresholds, counts, sink +
        # counter writes); without caching, each one re-scans the batch
        # source (observed 8x input re-reads via StreamingQueryProgress)
        batch_df = batch_df.persist()
        state = self._latest_counters(spark, batch_id)
        if self.parent_col is not None:
            from bucketizers_spark.operators.multi import trie_within_parent

            res = trie_within_parent(
                batch_df,
                self.parent_col,
                self.value_col,
                mode=self.mode,
                page_size=self.page_size,
                max_depth=self.max_depth,
                seq_col="seq",
                node_state=state,
                emit_counter_updates=True,
                salt_buckets=self.salt_buckets,
                tail_threshold=self.tail_threshold,
            )
        else:
            kwargs = dict(
                page_size=self.page_size,
                root=self.root,
                seq_col="seq",
                max_depth=self.max_depth,
                node_state=state,
                emit_counter_updates=True,
                salt_buckets=self.salt_buckets,
                tail_threshold=self.tail_threshold,
            )
            if self.mode == "token":
                res = token_prefix_trie(batch_df, self.value_col, **kwargs)
            else:
                res = substring_trie(batch_df, self.value_col, **kwargs)

        # merge updates over prior state (touched nodes carry new totals;
        # untouched nodes carry over)
        updates = res.counter_updates
        if state is not None:
            carried = state.join(
                F.broadcast(updates.select("node")), "node", "left_anti"
            )
            updates = updates.unionByName(carried)

        # Counters are written BEFORE the main sink's manifest commit: a
        # crash after the sink commit but before a v=batch_id counter write
        # would otherwise leave the batch permanently committed (replay
        # returns early at committed_batches) while batch_id+1 still reads
        # v=batch_id-1 state — over-filling trie nodes on recovery. Writing
        # counters first is safe because _latest_counters only reads
        # versions < batch_id, so a replayed batch recomputes from v-1 and
        # overwrites v=batch_id idempotently.
        self._write_counters(updates, batch_id)
        self.rel_sink.write_batch(res.relations, batch_id)
        self.sink.write_batch(res.assignments, batch_id)
        batch_df.unpersist()

    def start(self, stream_df, checkpoint_dir: str):
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .start()
        )
