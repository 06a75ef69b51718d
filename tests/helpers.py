from __future__ import annotations

import math

import numpy as np
import pandas as pd


def assert_df_equal(result_df, expect: pd.DataFrame, sort_cols=None, rtol=1e-9, atol=1e-12):
    """Order-insensitive, dtype-tolerant golden comparison: collect the
    Spark result, sort both frames by sort_cols (default: all columns),
    compare column names and values. Mirrors the reference test style
    (assert_frame_equal with check_dtype=False) adapted to unordered
    relations.
    """
    got = result_df.toPandas()
    assert list(got.columns) == list(expect.columns), (
        f"columns differ: {list(got.columns)} != {list(expect.columns)}"
    )
    if sort_cols is None:
        sort_cols = [c for c in expect.columns if expect[c].notna().all()]
    got = got.sort_values(sort_cols, kind="stable").reset_index(drop=True)
    expect = expect.sort_values(sort_cols, kind="stable").reset_index(drop=True)
    assert len(got) == len(expect), f"row counts differ: {len(got)} != {len(expect)}"
    for c in expect.columns:
        g, e = got[c], expect[c]
        if pd.api.types.is_numeric_dtype(e) and not pd.api.types.is_bool_dtype(e):
            g = pd.to_numeric(g)
            np.testing.assert_allclose(
                g.astype(float).to_numpy(),
                e.astype(float).to_numpy(),
                rtol=rtol,
                atol=atol,
                equal_nan=True,
                err_msg=f"column {c}",
            )
        elif pd.api.types.is_datetime64_any_dtype(e):
            ge = pd.to_datetime(g)
            assert ge.isna().equals(e.isna()), f"column {c} null mask differs"
            assert (ge.dropna().to_numpy() == e.dropna().to_numpy()).all(), f"column {c}"
        else:
            g_filled = g.fillna("__nan__").astype(str)
            e_filled = e.fillna("__nan__").astype(str)
            assert g_filled.tolist() == e_filled.tolist(), (
                f"column {c}: {g_filled.tolist()} != {e_filled.tolist()}"
            )


def last_job_id(spark) -> int:
    """Id of the newest job in Spark's status store (-1 before any), read
    after the listener bus has delivered every event posted so far. Job
    ids are consecutive, so the difference of two readings is the number
    of jobs submitted in between."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    return jobs.head().jobId() if jobs.nonEmpty() else -1
