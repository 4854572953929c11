"""Expected outputs, computed without the engine's own code paths.

- ``verdicts`` re-derives which events the validator must reject, with a
  different formulation from ``dexspark.cdc.validate``: the timestamp
  check is a range-framed window over each micro-batch instead of the
  engine's per-turn aggregate joined back.
- ``ExpectedState`` replays the valid events in plain Python, epoch by
  epoch (an epoch is one committed micro-batch), and answers the
  benchmark's reads: point lookup, row count, and the full-table
  aggregate.
- ``FinalState`` answers the same reads once every epoch is applied,
  from the expected final table, for logs too large to replay in
  Python.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame, Window, functions as F

ROLES = ("user", "assistant", "system", "tool")
PAYLOAD = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def verdicts(log: DataFrame, batch_col: str) -> DataFrame:
    """``log`` plus ``expect_reason`` (NULL = valid). Rows sharing a
    ``batch_col`` value are one micro-batch: the timestamp rule only
    compares events delivered together."""
    is_del = F.col("op") == "D"
    reason = (
        F.when(
            F.col("conv_id").isNull() | F.col("turn_idx").isNull()
            | F.col("lsn").isNull() | F.col("op").isNull(),
            "missing_required_field",
        )
        .when(~F.col("op").isin("I", "U", "D"), "bad_op")
        .when(~is_del & ~F.coalesce(F.col("role"), F.lit("")).isin(*ROLES), "bad_role")
        .when(
            ~is_del & (F.col("role") == "tool")
            & (F.coalesce(F.trim(F.col("tool")), F.lit("")) == ""),
            "missing_tool",
        )
        .when(~is_del & (F.coalesce(F.length(F.trim("text")), F.lit(0)) == 0), "malformed_text")
    )
    pre = log.withColumn("expect_reason", reason)
    clean = pre.filter(F.col("expect_reason").isNull() & ~is_del)
    # every strictly earlier turn of the same conversation in the same
    # micro-batch: a RANGE frame ending one turn before the current one
    earlier = (
        Window.partitionBy(batch_col, "conv_id")
        .orderBy("turn_idx")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    checked = clean.withColumn(
        "expect_reason",
        F.when(F.col("ts") < F.max("ts").over(earlier), F.lit("ts_not_monotonic")),
    )
    rest = pre.filter(F.col("expect_reason").isNotNull() | is_del)
    return checked.unionByName(rest)


def same_rows(got: DataFrame, expected: DataFrame) -> bool:
    """Multiset equality, as ``exceptAll`` both ways, in one shuffle:
    every distinct row must occur as often on each side."""
    cols = expected.columns
    tagged = got.select(*cols, F.lit(1).alias("_side")).unionByName(
        expected.select(*cols, F.lit(-1).alias("_side"))
    )
    return tagged.groupBy(*cols).agg(F.sum("_side").alias("_d")).filter("_d != 0").isEmpty()


def table_equals(got: DataFrame, expected: DataFrame) -> bool:
    cols = list(PAYLOAD)
    return same_rows(got.select(*cols), expected.select(*cols))


class ExpectedState:
    """Latest valid image per (conv_id, turn_idx), advanced one epoch at
    a time; deletes remove the key."""

    def __init__(self, rows: Iterable[Any]) -> None:
        # epoch -> events of that epoch, as collected Row objects with
        # the log columns plus ``epoch``
        self._pending: dict[int, list[Any]] = {}
        for r in rows:
            self._pending.setdefault(int(r["epoch"]), []).append(r)
        self._latest: dict[tuple[str, int], Any] = {}
        self.epoch = -1

    def advance(self, epoch: int) -> None:
        while self.epoch < epoch:
            self.epoch += 1
            for r in self._pending.pop(self.epoch, []):
                key = (r["conv_id"], r["turn_idx"])
                cur = self._latest.get(key)
                if cur is None or r["lsn"] > cur["lsn"]:
                    self._latest[key] = r

    def _live(self):
        return (r for r in self._latest.values() if r["op"] != "D")

    def lookup(self, conv_id: str) -> list[tuple]:
        return sorted(
            (tuple(r[c] for c in PAYLOAD) for r in self._live() if r["conv_id"] == conv_id),
            key=repr,
        )

    def count(self) -> int:
        return sum(1 for _ in self._live())

    def scan(self) -> tuple[int, int]:
        n = chars = 0
        for r in self._live():
            n += 1
            chars += len(r["text"])
        return n, chars


class FinalState:
    """The expected final table's answers to the benchmark's reads:
    lookups from the collected rows of the looked-up conversations,
    count and aggregate computed over the whole expected table."""

    def __init__(self, expected: DataFrame, conv_ids: Iterable[str]) -> None:
        self._by_conv: dict[str, list[tuple]] = {}
        for r in expected.filter(F.col("conv_id").isin(*sorted(conv_ids))).collect():
            self._by_conv.setdefault(r["conv_id"], []).append(tuple(r[c] for c in PAYLOAD))
        row = expected.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("chars")
        ).first()
        self._n, self._chars = int(row["n"]), int(row["chars"] or 0)

    def advance(self, epoch: int) -> None:
        pass

    def lookup(self, conv_id: str) -> list[tuple]:
        return sorted(self._by_conv.get(conv_id, []), key=repr)

    def count(self) -> int:
        return self._n

    def scan(self) -> tuple[int, int]:
        return self._n, self._chars


def rows_of(df: DataFrame) -> list[tuple]:
    return sorted((tuple(r[c] for c in PAYLOAD) for r in df.collect()), key=repr)
