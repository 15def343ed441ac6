"""Streaming sketch maintenance: an HLL register STORE kept current
by a ``foreachBatch`` sink — the unbounded-stream form of
``operators/sketches.hll_registers`` ("how many distinct users /
URLs / shingles has this stream carried, per group, so far?"), in
O(m) state per group forever.

Exactly-once comes from ALGEBRA here, not from a transaction log:
HLL registers form an idempotent, commutative monoid under pointwise
max, so re-merging a replayed micro-batch is a no-op by construction
— ``merge(store, batch)`` twice equals once.  The only machinery
needed is a ``replace`` publish of the merged store
(``sources/sinks.publish``, the staging/swap every rewrite uses), so a
reader never observes a half-written store.  Contrast with the
near-dup gate (``streaming/neardup.py``) and the count store
(``streaming/counts.py``), whose appends are NOT idempotent and
therefore run through the batch commit log (``sources/sinks.py``:
batch-tagged files + commit markers); a count-min store (cells SUM —
replay would double-count) would need that log too.  This split — idempotent-monoid state
gets algebra, additive state gets markers — is the design rule for
every streaming accumulator in this engine.

Readers: absent store dir = "no data yet"; otherwise the store is a
complete register table — ``hll_estimate`` it directly, or
``hll_merge`` it with other shards' stores.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from week4_musemotion_spark.operators.sketches import hll_merge, hll_registers
from week4_musemotion_spark.sources.sinks import publish


def make_hll_sink(group_cols: list[str], value_col: str, store_path: str, p: int = 8):
    """A ``foreachBatch`` function maintaining the register store:

        stream.writeStream.foreachBatch(
            make_hll_sink(["event_type"], "user_id", store)
        ).option("checkpointLocation", ckpt).start()

    Per micro-batch: sketch the batch, max-merge with the store,
    republish it by a ``replace`` publish.  The store is read inside
    the staging write, after the publish's crash recovery, and the
    write consumes it fully before the swap renames it aside.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        reg = hll_registers(batch_df, group_cols, value_col, p)

        def _write(stage: str) -> None:
            merged = reg
            if os.path.isdir(store_path):
                prev = batch_df.sparkSession.read.parquet(store_path)
                merged = hll_merge(prev, reg, group_cols)
            merged.write.mode("overwrite").parquet(stage)

        publish(store_path, _write, mode="replace")

    return _sink
