"""Segmentation operators: sliding/tumbling windows, framing, rolling stats.

All window EMISSION is narrow (window spine generated per row with
``transform(sequence(...))`` + explode — no shuffle, mirrors the zero-copy
``as_strided`` framing of caits/core/_core_window.py:12-49 in spirit).
Rolling stats over long format use Spark window frames (JVM-side).

Reference parity:
  sliding_window_df  caits/windowing.py:52-77  (step = ws - overlap)
  rolling_window_df  caits/windowing.py:8-49   (full windows only)
  frame_signal       caits/windowing.py:158-185
  create_chunks      caits/windowing.py:188-202 (tumbling = operators/rollup)
  rolling_rms        caits/properties.py:111-172
  rolling_zcr        caits/properties.py:175-223
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..workers import worker_kernel


def sliding_windows(
    df: DataFrame,
    window_size: int,
    step: int | None = None,
    overlap: int = 0,
    emit_values: bool = True,
) -> DataFrame:
    """Overlapping windows, full windows only (caits/windowing.py:52-77).

    step defaults to window_size - overlap. Output one row per window:
    (doc_id, source, wstart, values?) — values is the window slice.
    """
    if step is None:
        step = window_size - overlap
    if step <= 0:
        raise ValueError("step must be positive (overlap < window_size)")
    ws, st = window_size, step
    payload = f"slice(tokens, wi * {st} + 1, {ws})" if emit_values else "null"
    expr = f"""
    transform(
      sequence(0, cast((n_tok - {ws}) / {st} as int)),
      wi -> named_struct(
        'wstart', cast(wi as bigint) * {st},
        'values', {payload}))
    """
    out = (
        df.filter(F.col("n_tok") >= window_size)
        .select("doc_id", "source", F.explode(F.expr(expr)).alias("w"))
        .select("doc_id", "source", F.col("w.wstart").alias("wstart"), F.col("w.values").alias("values"))
    )
    return out if emit_values else out.drop("values")


def windowed_dataset(
    df: DataFrame, window_size: int, step: int | None = None, label: str = "source"
) -> DataFrame:
    """windowing_df parity (caits/windowing.py:108-155): windows + label
    replicated onto each emitted window."""
    return sliding_windows(df, window_size, step).withColumnRenamed(label, "y")


def rolling_rms(
    df_long: DataFrame, frame: int = 8, hop: int = 1, value: str = "value"
) -> DataFrame:
    """Right-aligned rolling RMS over long format via SQL window frames
    (rms_value caits/fe/_statistical.py:237-249 applied rolling)."""
    w = (
        Window.partitionBy("doc_id")
        .orderBy("offset")
        .rowsBetween(-(frame - 1), 0)
    )
    v = F.col(value).cast("double")
    out = df_long.withColumn(
        "rms", F.sqrt(F.sum(v * v).over(w) / F.count(value).over(w))
    )
    if hop > 1:
        out = out.filter(F.col("offset") % hop == 0)
    return out


def rolling_zcr(
    df_long: DataFrame, frame: int = 8, value: str = "value", center: float = 0.0
) -> DataFrame:
    """Right-aligned rolling zero-crossing rate (zcr_value
    caits/fe/_statistical.py:324-342 applied rolling)."""
    wl = Window.partitionBy("doc_id").orderBy("offset")
    wf = Window.partitionBy("doc_id").orderBy("offset").rowsBetween(-(frame - 1), 0)
    c = F.col(value).cast("double") - F.lit(center)
    pc = F.lag(c).over(wl)
    cross = F.when((c * pc) < 0, 1.0).otherwise(0.0)
    df2 = df_long.withColumn("_x", cross)
    return df2.withColumn("zcr", F.avg("_x").over(wf)).drop("_x")


def rolling_rms_pandas(df: DataFrame, frame: int = 8, hop: int = 1) -> DataFrame:
    """Bit-exact centered+padded rolling RMS (caits/properties.py:111-172
    pad semantics) as an Arrow kernel over the sequences table."""
    from ..functions.spectral import rolling_rms_np

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                r = rolling_rms_np(np.asarray(toks, dtype=np.float64), frame, hop)
                rows.append(
                    pd.DataFrame(
                        {
                            "doc_id": np.repeat(doc_id, r.size),
                            "frame_idx": np.arange(r.size, dtype=np.int64),
                            "rms": r,
                        }
                    )
                )
            if rows:
                yield pd.concat(rows, ignore_index=True)

    return df.select("doc_id", "tokens").mapInPandas(
        kernel, schema="doc_id string, frame_idx long, rms double"
    )


def frame_matrix(df: DataFrame, frame_length: int, hop: int) -> DataFrame:
    """frame_signal parity (caits/windowing.py:158-185): emit each frame as
    an array column — strided view inside Arrow kernel, zero Python loops
    over samples."""

    @worker_kernel
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                x = np.asarray(toks, dtype=np.int32)
                if x.size < frame_length:
                    continue
                sw = np.lib.stride_tricks.sliding_window_view(x, frame_length)[::hop]
                rows.append(
                    pd.DataFrame(
                        {
                            "doc_id": np.repeat(doc_id, sw.shape[0]),
                            "frame_idx": np.arange(sw.shape[0], dtype=np.int64),
                            "frame": list(sw),
                        }
                    )
                )
            if rows:
                yield pd.concat(rows, ignore_index=True)

    return df.select("doc_id", "tokens").mapInPandas(
        kernel, schema="doc_id string, frame_idx long, frame array<int>"
    )
