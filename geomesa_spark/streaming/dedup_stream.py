"""Streaming deduplication — the LLM-pipeline dedup tiers restated over
Structured Streaming, for continuously-ingested document feeds.

Batch dedup (``operators/dedup``) answers "which docs in this corpus are
dups"; a live ingest pipeline needs the incremental question: "is THIS
arriving doc a (near-)duplicate of anything seen recently?".  Two tiers,
mirroring the batch design:

- :func:`stream_dedup_exact` — exact content dedup: whitespace-normalized
  md5 + Spark's ``dropDuplicatesWithinWatermark``, so state is bounded by
  the watermark delay instead of growing forever (the documented failure
  mode of plain streaming ``dropDuplicates``).
- :func:`stream_near_dup` — SimHash near-dup with the SAME pigeonhole
  blocking as the batch tier (``dedup.simhash_pairs_jvm``, block keys
  from the same ``dedup._simhash_block_keys``): each doc's 64-bit JVM
  simhash splits into ``n_blocks`` block keys; state lives PER
  (block, bval) group via ``applyInPandasWithState``, so an arriving doc
  only compares against prior docs sharing ≥1 block — with
  ``max_hamming < n_blocks`` the pigeonhole lemma makes that candidate
  set complete, exactly as in batch.  State per group is pruned to a
  ``ttl_minutes`` event-time horizon (the streaming analogue of the batch
  corpus boundary).

100-TB shape: the hash stage is pure whole-stage-codegen projection
(identical code path to batch — ``simhash_values_jvm``); the only state
shuffle is on (block, bval), a uniformly-distributed 16-bit-per-block
key, and each group's state holds only docs within the TTL horizon that
share that block value — the same bucketing that makes the batch join
not-quadratic bounds the per-group state here.

Emission semantics: ``stream_near_dup`` emits one (doc_id, match_id,
hamming) row per matching PRIOR doc per shared block; a pair agreeing on
k blocks surfaces k times (groups are independent state machines and
cannot coordinate).  Sinks that need the exact pair set apply
``dropDuplicates([doc_id, match_id])`` per epoch — the batch tier
does the same post-join dedupe inside one job, a stream cannot.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

NEARDUP_OUTPUT_SCHEMA = "doc_id string, match_id string, hamming int"
NEARDUP_STATE_SCHEMA = "ids array<string>, sigs array<long>, tss array<long>"


def stream_dedup_exact(
    src: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    delay: str = "10 minutes",
) -> DataFrame:
    """Keep the first-arriving copy of each distinct (whitespace-
    normalized) document content within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keys state by the content hash and
    evicts entries once the watermark passes them — bounded state, unlike
    streaming ``dropDuplicates`` whose key set grows forever.  Passes all
    input columns through plus the ``content_hash`` key.
    """
    h = F.md5(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return (
        src.withColumn("content_hash", h)
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Per-element popcount of a uint64 array (vectorized bit-twiddling)."""
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def stream_near_dup(
    src: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    n_bits: int = 64,
    n_blocks: int = 8,
    max_hamming: int = 3,
    ttl_minutes: int = 60,
) -> DataFrame:
    """Streaming SimHash near-duplicate detection (see module docstring).

    Each arriving doc is checked against all prior in-TTL docs that share
    at least one pigeonhole block (complete for ``max_hamming <
    n_blocks``), then added to that block group's state.  Within a
    micro-batch, rows are processed in (event-time, id) order so
    intra-batch pairs emit deterministically (earlier doc = match_id).
    """
    assert max_hamming < n_blocks, "pigeonhole completeness requires h < blocks"
    from ..operators.dedup import _simhash_block_keys, simhash_values_jvm

    ttl_ms = ttl_minutes * 60_000

    d = simhash_values_jvm(
        src.withColumn("_ts_ms", F.unix_millis(F.col(ts_col).cast("timestamp"))),
        text_col,
        id_col,
        n_bits,
        keep_cols=("_ts_ms",),
    )
    e = d.select(
        "id", "simhash", "_ts_ms", F.explode(_simhash_block_keys(n_bits, n_blocks)).alias("bk")
    ).select(
        "id",
        "simhash",
        "_ts_ms",
        F.col("bk.band").alias("block"),
        F.col("bk.key").alias("bval"),
    )

    def check(key, pdfs, state: GroupState):
        if state.exists:
            ids, sigs, tss = state.get
            ids, sigs, tss = list(ids), list(sigs), list(tss)
        else:
            ids, sigs, tss = [], [], []
        out_doc, out_match, out_ham = [], [], []
        max_ts = max(tss) if tss else 0
        # rows sort by (event time, id) per Arrow chunk; a group whose
        # micro-batch spans multiple chunks processes chunks in frame
        # order, so the PAIR SET is stable but the (doc_id, match_id)
        # direction of a same-batch pair straddling a chunk boundary
        # follows chunk order — harmless for dedup semantics
        for pdf in pdfs:
            pdf = pdf.sort_values(["_ts_ms", "id"], kind="mergesort")
            for rid, sig, ts in zip(pdf["id"], pdf["simhash"], pdf["_ts_ms"]):
                max_ts = max(max_ts, int(ts))
                if sigs:
                    arr = np.array(sigs, dtype=np.int64)
                    ham = _popcount64(np.bitwise_xor(arr, np.int64(sig)).view(np.uint64))
                    # event-time TTL applies at MATCH time, not just at the
                    # end-of-batch prune: an entry older than this row's
                    # horizon is already expired from this row's view
                    fresh = np.array(tss, dtype=np.int64) >= int(ts) - ttl_ms
                    hit = np.nonzero((ham <= max_hamming) & fresh)[0]
                    for i in hit:
                        out_doc.append(rid)
                        out_match.append(ids[i])
                        out_ham.append(int(ham[i]))
                ids.append(rid)
                sigs.append(int(sig))
                tss.append(int(ts))
        # event-time TTL prune relative to the newest doc this group saw
        cutoff = max_ts - ttl_ms
        keep = [i for i, t in enumerate(tss) if t >= cutoff]
        state.update((
            [ids[i] for i in keep],
            [sigs[i] for i in keep],
            [tss[i] for i in keep],
        ))
        yield pd.DataFrame(
            {"doc_id": out_doc, "match_id": out_match, "hamming": out_ham}
        )

    return e.groupBy("block", "bval").applyInPandasWithState(
        check,
        NEARDUP_OUTPUT_SCHEMA,
        NEARDUP_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
