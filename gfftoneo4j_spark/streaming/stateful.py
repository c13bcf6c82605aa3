"""Custom stateful streaming operator: per-conversation next_turn
chains via applyInPandasWithState.

The batch pipeline builds next_turn edges with a lead() window —
impossible over an unbounded stream (the "next" row hasn't arrived).
This operator keeps ONE value of state per conversation (the last seen
turn_idx) and, as each microbatch delivers new turns, emits the edge
connecting the previous tail to the new head plus the in-batch chain.

Scale properties:
- state is O(1) per conversation (a single int64 + dup guard), not a
  turn buffer — 10^9 live conversations is ~GBs of state store, not TBs;
- grouping shuffles only each microbatch's arrivals on conv_id (the
  stream analogue of the batch plan's single turn exchange);
- the Python function is Arrow-batched per group via pandas.

Semantics contract: edges match the batch pipeline exactly when turns
arrive in order per conversation (append-only transcript logs do, and
the pytest asserts parity for that case). Out-of-order stragglers are
emitted as `late_turn` lineage rows instead of edges — the periodic
batch pass (build_kg over the full table) remains the repair path,
mirroring how the watermarked rollup quarantines late data.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from gfftoneo4j_spark.plans.pipeline import is_quarantined

NEXT_TURN_OUTPUT = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
    ]
)

_STATE = T.StructType([T.StructField("last_idx", T.LongType(), True)])


def _chain_group(key, pdf_iter, state: GroupState):
    """One conversation. State = last chained turn_idx; each arriving
    in-order turn extends the chain with one edge."""
    (conv_id,) = key
    last = state.get[0] if state.exists else None
    subjs, preds, objs = [], [], []
    # Accumulate across ALL Arrow chunks before sorting: a large group
    # spans multiple pdf chunks, and sorting per chunk would misclassify
    # a chunk-2 turn with lower idx than chunk-1's max as a late_turn
    # straggler even though it arrived in the same (in-order) batch —
    # diverging from batch-pipeline parity.
    idxs: list[int] = []
    for pdf in pdf_iter:
        idxs.extend(int(x) for x in pdf["turn_idx"].dropna())
    for t in sorted(idxs):
        if last is not None and t <= last:
            # duplicate or out-of-order straggler: lineage, not edge
            subjs.append(f"turn:{conv_id}:{t}")
            preds.append("late_turn")
            objs.append(f"conv:{conv_id}")
            continue
        if last is not None:
            subjs.append(f"turn:{conv_id}:{last}")
            preds.append("next_turn")
            objs.append(f"turn:{conv_id}:{t}")
        last = t
    state.update((last,))
    yield pd.DataFrame({"subj": subjs, "pred": preds, "obj": objs})


def streaming_next_turn_edges(stream: DataFrame) -> DataFrame:
    """next_turn edges over an unbounded turn stream (W2's lead()
    re-expressed as bounded per-key state)."""
    turns = stream.where(~is_quarantined()).select("conv_id", "turn_idx")
    return turns.groupBy("conv_id").applyInPandasWithState(
        _chain_group,
        outputStructType=NEXT_TURN_OUTPUT,
        stateStructType=_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
