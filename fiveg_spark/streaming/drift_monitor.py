"""Streaming PSI drift monitor: the STREAMING twin of D27
(operators/ts_diagnostics.py:_psi_parts) — every micro-batch of a value
stream is scored against a FROZEN reference distribution and the
Population Stability Index lands in a metrics sink, so a dashboard can
alert the moment production data walks away from the training era.

Design:
- the reference is fit ONCE from a batch frame (`fit_reference`):
  per-key equal-width bin edges over the reference range + floored bin
  shares — a tiny plain-Python object that BROADCASTS into every batch
  (no stream-stream join, no state store: drift state is the frozen
  reference, not streaming state);
- `foreach_batch_psi` builds the foreachBatch that bins the batch on the
  reference edges (clamped to edge bins outside the range, the D27
  rule), floors shares at 1e-4, and appends one (batch_id, key, psi,
  n_rows, drifted) row per key to the parquet sink;
- replaying a batch appends a duplicate metrics row — harmless for a
  monitoring sink (idempotent-exact sinks are A8's job); readers key on
  (batch_id, key).

Scale: per batch the work is one groupBy over (key, bin) — bins come
from a broadcast dict, the aggregate is |keys|·|bins| rows.  The
reference never rescans.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BINS = 10
FLOOR = 1e-4
PSI_ALERT = 0.2


def fit_reference(
    df: DataFrame, key_col: str, value_col: str, n_bins: int = N_BINS
) -> dict[str, dict]:
    """Per-key reference: (lo, hi, [p_0..p_{n-1}]) with floored shares.
    Degenerate zero-width ranges collapse to a single bin (PSI pinned 0
    against any batch that also lands in that bin — the D27 guard)."""
    # fully distributed: per-key edges (tiny) broadcast back onto the
    # reference scan, bins computed JVM-side, and only the
    # |keys|·|bins| count frame reaches the driver
    edges_df = df.groupBy(key_col).agg(
        F.min(value_col).alias("_lo"), F.max(value_col).alias("_hi")
    )
    binned = (
        df.join(F.broadcast(edges_df), key_col)
        .withColumn(
            "_bin",
            F.when(F.col("_hi") - F.col("_lo") <= 0, F.lit(0)).otherwise(
                F.least(
                    F.lit(n_bins - 1),
                    F.greatest(
                        F.lit(0),
                        F.floor(
                            (F.col(value_col) - F.col("_lo"))
                            / ((F.col("_hi") - F.col("_lo")) / n_bins)
                        ).cast("int"),
                    ),
                )
            ),
        )
        .groupBy(key_col, "_lo", "_hi", "_bin")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    acc: dict[str, dict] = {}
    for r in binned:
        e = acc.setdefault(
            r[key_col],
            {"lo": r["_lo"], "hi": r["_hi"], "c": [0.0] * n_bins},
        )
        e["c"][r["_bin"]] += r["c"]
    ref = {}
    for k, e in acc.items():
        tot = max(sum(e["c"]), 1.0)
        ref[k] = {
            "lo": e["lo"],
            "hi": e["hi"],
            "p": [max(x / tot, FLOOR) for x in e["c"]],
        }
    return ref


def foreach_batch_psi(
    ref: dict[str, dict],
    path: str,
    key_col: str,
    value_col: str,
    n_bins: int = N_BINS,
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch scorer.  Keys absent from the reference
    are scored against a uniform reference (everything about them is
    drift) — a NEW key appearing in production IS a distribution
    change worth alerting on."""
    import math

    def score(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # binning stays DISTRIBUTED: the per-key edges broadcast-join
        # onto the batch, the bin is JVM-side arithmetic, and only the
        # |keys|·|bins| count frame ever reaches the driver (never the
        # batch rows — a collect_list here would haul the whole batch
        # into one Python process)
        edges = spark.createDataFrame(
            [(k, rk["lo"], rk["hi"]) for k, rk in ref.items()],
            f"{key_col} string, _lo double, _hi double",
        )
        binned = (
            batch_df.join(F.broadcast(edges), key_col, "left")
            .withColumn(
                "_bin",
                F.when(
                    F.col("_lo").isNull() | (F.col("_hi") - F.col("_lo") <= 0),
                    F.lit(0),
                ).otherwise(
                    F.least(
                        F.lit(n_bins - 1),
                        F.greatest(
                            F.lit(0),
                            F.floor(
                                (F.col(value_col) - F.col("_lo"))
                                / ((F.col("_hi") - F.col("_lo")) / n_bins)
                            ).cast("int"),
                        ),
                    )
                ),
            )
            .groupBy(key_col, "_bin")
            .agg(F.count("*").alias("c"))
            .collect()
        )
        per_key: dict[str, list[float]] = {}
        for r in binned:
            per_key.setdefault(r[key_col], [0.0] * n_bins)[r["_bin"]] += r["c"]
        out = []
        for k, c in per_key.items():
            rk = ref.get(
                k, {"lo": 0.0, "hi": 1.0, "p": [1.0 / n_bins] * n_bins}
            )
            tot = max(sum(c), 1.0)
            q = [max(x / tot, FLOOR) for x in c]
            psi = sum(
                (p - qq) * math.log(p / qq) for p, qq in zip(rk["p"], q)
            )
            out.append((batch_id, k, float(psi), int(tot), psi > PSI_ALERT))
        spark.createDataFrame(
            out, "batch_id long, key string, psi double, n_rows long, drifted boolean"
        ).write.mode("append").parquet(path)

    return score
