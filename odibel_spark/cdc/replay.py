"""Batch CDC replay: dead-letter split + last-writer-wins fold.

This is the *oracle-grade* batch path (SURVEY.md §7.2 M1): given the
full WAL, reproduce the final transcript table exactly. The streaming
engine (cdc/pipeline.py) must converge to the same table; tests compare
the two with the full-outer-join diff (operators/diff.py), the
reference's own correctness idiom (eval/SnapshotEval.scala:132-160).

Scale shape: one hash shuffle on (conv_id, turn_idx) for the
``max_by`` fold — the minimum possible for a keyed reduction — with
map-side partial aggregation, so exact duplicates collapse before the
exchange. No Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EVENT_OPS = ("insert", "update", "delete")

#: primary key of the materialized transcript table
KEY_COLS = ["conv_id", "turn_idx"]
#: full dedup identity of a WAL event
EVENT_ID_COLS = ["conv_id", "turn_idx", "lsn"]
#: payload columns carried into the materialized table
PAYLOAD_COLS = ["role", "text", "tool", "ts"]


def dead_letter_predicate() -> F.Column:
    """Poison-event predicate. Reference policy: a failed/corrupt event
    must produce *no state change* — in particular it must never be
    folded into a delete (DBpediaTKGExtraction.scala:174-195, "return
    None instead of empty String to not remove triples later").
    Poison = unknown/NULL op, null key parts, or non-delete null payload."""
    return F.coalesce(
        ~F.col("op").isin(*EVENT_OPS)
        | F.col("conv_id").isNull()
        | F.col("turn_idx").isNull()
        | F.col("lsn").isNull()
        | ((F.col("op") != "delete") & F.col("text").isNull()),
        F.lit(True),  # a NULL flag would pass neither filter
    )


def split_dead_letters(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(applicable events, dead letters) — see dead_letter_predicate."""
    flagged = events.withColumn("_dead", dead_letter_predicate())
    return (
        flagged.filter(~F.col("_dead")).drop("_dead"),
        flagged.filter(F.col("_dead")).drop("_dead"),
    )


def last_writer_wins(
    events: DataFrame,
    key_cols: list[str] | None = None,
    lsn_col: str = "lsn",
) -> DataFrame:
    """Reduce a WAL to one winning event per key: the event with the
    highest LSN (exact duplicates collapse first — LSNs are unique per
    key, so same-LSN duplicates are identical rows and either copy is
    the same winner).

    Returns winners *including* delete winners — callers that want the
    live table apply ``current_state``; callers implementing MERGE need
    the delete rows to drive `WHEN MATCHED ... DELETE`.

    Physical plan: ONE hash shuffle on the keys. Spark plans the
    ``max_by`` fold as a sort aggregate: a local sort and a partial
    aggregate before the exchange, a sort and the final aggregate after
    it. The window-function spelling (`row_number over (partition by
    key order by lsn desc)`) ships every duplicate to the reducer;
    ``max_by`` combines executor-side first, which at 10^10 events with
    a skewed feed is the difference between shuffling the WAL and
    shuffling about one row per key per map task.
    """
    keys = key_cols or KEY_COLS
    others = [c for c in events.columns if c not in keys]
    winner = F.max_by(F.struct(*[F.col(c) for c in others]), F.col(lsn_col)).alias("_w")
    folded = events.groupBy(*[F.col(k) for k in keys]).agg(winner)
    return folded.select(*keys, *[F.col(f"_w.{c}").alias(c) for c in others])


def current_state(events: DataFrame) -> DataFrame:
    """Full batch replay → live transcript table.

    dead-letter split → exact dedup → LWW fold → drop delete winners.
    Output schema = the input_hint transcript shape
    (conv_id, turn_idx, role, text, tool, ts) + applied lsn.
    """
    ok, _dead = split_dead_letters(events)
    winners = last_writer_wins(ok)
    return (
        winners.filter(F.col("op") != "delete")
        .select(*KEY_COLS, *PAYLOAD_COLS, F.col("lsn").alias("_lsn"))
    )
