"""Output checks, run after the timed passes. Each returns a ``Check``;
every failed check counts in ``failed_ops``."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from healthcare_data_harmonization_dataflow_spark.model.errors import err_rows, ok_rows
from healthcare_data_harmonization_dataflow_spark.operators.mapping_op import apply_mapping

TURNS = "array<struct<turn_idx:int,role:string,text:string>>"


@dataclass
class Check:
    name: str
    passed: bool
    detail: str


def explode_bundles(bundles: DataFrame) -> DataFrame:
    """Committed bundles back into (conv_id, turn_idx, role, text) rows."""
    return bundles.select(
        "conv_id", F.inline(F.from_json("bundle", TURNS))
    ).select("conv_id", "turn_idx", "role", "text")


def multiset_diffs(got: DataFrame, want: DataFrame, key: str, cols: list[str]) -> dict:
    """Per value of ``key``, the number of rows by which two multisets
    differ (0 = equal). One job for every key."""
    cols = [key, *cols]
    signed = got.select(*cols, F.lit(1).alias("_w")).unionByName(
        want.select(*cols, F.lit(-1).alias("_w"))
    )
    rows = (
        signed.groupBy(*cols)
        .agg(F.sum("_w").alias("_d"))
        .filter(F.col("_d") != 0)
        .groupBy(key)
        .agg(F.sum(F.abs("_d")).alias("_n"))
        .collect()
    )
    return {r[key]: int(r["_n"]) for r in rows}


def unordered_bundles(bundles: DataFrame) -> int:
    """Bundles whose turns are not strictly ascending by turn_idx."""
    idx = F.from_json("bundle", TURNS).getField("turn_idx")
    return bundles.filter(idx != F.array_sort(F.array_distinct(idx))).count()


def _tagged(tag: str, df: DataFrame, role=None, text=None) -> DataFrame:
    none = F.lit(None).cast("string")
    return df.select(
        F.lit(tag).alias("_branch"), "conv_id", "turn_idx",
        (none if role is None else role).alias("role"),
        (none if text is None else text).alias("text"),
    )


def harmonize_checks(
    inp: DataFrame, config: str, bundles: DataFrame, deadletter: DataFrame
) -> list[Check]:
    """Bundled turns equal the ok-mapped input as a multiset, turns inside
    each bundle ascend by turn_idx, and dead-letter rows are exactly the
    input rows the mapping rejected."""
    mapped = apply_mapping(inp, config, id_col="conv_id", data_col="text")
    want = _tagged("ok", ok_rows(mapped), F.col("role"), F.col("ok")).unionByName(
        _tagged("err", err_rows(mapped))
    )
    got = _tagged("ok", explode_bundles(bundles), F.col("role"), F.col("text")).unionByName(
        _tagged("err", deadletter)
    )
    diffs = multiset_diffs(got, want, "_branch", ["conv_id", "turn_idx", "role", "text"])
    d_ok, d_err = diffs.get("ok", 0), diffs.get("err", 0)
    n_bad = unordered_bundles(bundles)
    return [
        Check("bundled_turns_equal_ok_input", d_ok == 0, f"{d_ok} rows differ"),
        Check("bundle_turns_ascending", n_bad == 0, f"{n_bad} bundles out of order"),
        Check("deadletter_equals_rejected_input", d_err == 0, f"{d_err} rows differ"),
    ]


def conservation_check(
    input_rows: int, bundled: int, deadlettered: int, late_dropped: int, held: int
) -> Check:
    """input = bundled + dead-lettered + late-dropped (+ rows still held in
    state when the bounded replay ends)."""
    out = bundled + deadlettered + late_dropped + held
    return Check(
        "row_conservation",
        input_rows == out,
        f"input {input_rows} vs bundled {bundled} + deadlettered {deadlettered}"
        f" + late {late_dropped} + held {held}",
    )


def count_check(name: str, got: int, want: int) -> Check:
    return Check(name, got == want, f"got {got}, want {want}")
