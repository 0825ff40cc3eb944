"""Round-14 fixes (r13 ADVICE + verdict item 7): the GD sentinel's
gradient bound tightens from |d_j| < 2^53 to |d_j| < 2^53 - n (the
/n fdiv numerator d_j - pm with pm in [0, n) can exceed |d_j| by up
to n - 1, so a negative d_j inside the old bound could still feed an
inexact double division)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tabular_to_parquet_spark.operators.pipeline import (
    _pmod_floordiv,
    gd_linear_regressor,
)
from tabular_to_parquet_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-round14")


def test_pmod_floordiv_inexact_just_inside_old_grad_bound(spark):
    # The mechanism the tightened bound closes, demonstrated exactly:
    # d = -(2^53 - 1) PASSES the old |d| < 2^53 check, but with n = 3
    # its fdiv numerator is d - pm = -(2^53 + 1) (pm = 2), which is
    # odd and > 2^53, so the double conversion ties-to-even down to
    # -2^53 and the quotient crosses an integer: Spark returns
    # exact+1.  The new bound's maximum |d| = 2^53 - 4 has numerator
    # -(2^53 - 2) — exactly representable, division exact.
    d_bad = -((1 << 53) - 1)  # old bound admits; numerator breaks 2^53
    d_ok = -((1 << 53) - 4)  # max |d| under the new |d| < 2^53 - n
    row = (
        spark.range(1)
        .select(
            _pmod_floordiv(F.lit(d_bad), F.lit(3)).alias("bad"),
            _pmod_floordiv(F.lit(d_ok), F.lit(3)).alias("ok"),
        )
        .first()
    )
    assert row["bad"] != d_bad // 3  # the silent off-by-one is REAL
    assert row["bad"] == d_bad // 3 + 1
    assert row["ok"] == d_ok // 3  # new-bound maximum stays exact


def test_gd_sentinel_plan_embeds_tightened_grad_bound(spark):
    # regression pin: the in-plan gradient check must subtract n from
    # the 2^53 envelope (a refactor back to plain < 2^53 re-opens the
    # off-by-one corner demonstrated above)
    df = spark.createDataFrame([(3, 7), (5, 11)], "x0 long, y long")
    out = gd_linear_regressor(df, ["x0"], rounds=1)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "cast(9007199254740992 as bigint) - n#" in plan


def test_chunked_scan_repartition_survives_aqe_coalescing(spark):
    # r13 verdict item 4 / NEXT.md queue: the §20 huge-doc fix depends
    # on _char_windows_chunked's explicit round-robin repartition NOT
    # being coalesced back to one-task-per-huge-doc by
    # spark.sql.adaptive.coalescePartitions.  Spark exempts
    # user-numbered repartitions by tagging their Exchange
    # REPARTITION_BY_NUM; this pins that contract in the EXECUTED
    # adaptive plan: every RoundRobin exchange carries the tag and
    # none acquires an "AQEShuffleRead coalesced" parent (the
    # ENSURE_REQUIREMENTS hash exchanges in the same plan do — AQE is
    # demonstrably active, not merely enabled).
    from tabular_to_parquet_spark.operators.dedup import (
        substring_duplicate_spans,
    )

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
        == "true"
    )
    docs = spark.createDataFrame(
        [(i, (f"abcdefgh{i}" * 400) + "SHAREDSPANSHAREDSPAN")
         for i in range(6)],
        "doc_id long, text string",
    )
    out = substring_duplicate_spans(docs, k=8, chunk_chars=64)
    out.collect()  # materialize so the ADAPTIVE plan is final
    lines = (
        out._jdf.queryExecution().executedPlan().toString().splitlines()
    )
    rr = [ln for ln in lines if "RoundRobinPartitioning" in ln]
    assert rr, "chunked scan lost its explicit repartition entirely"
    assert all("REPARTITION_BY_NUM" in ln for ln in rr if "Exchange" in ln)
    # AQE must be coalescing SOMETHING (the ensure-requirements
    # shuffles) yet never the round-robin exchange
    assert any("AQEShuffleRead coalesced" in ln for ln in lines)
    for i, ln in enumerate(lines):
        if "AQEShuffleRead" in ln and i + 1 < len(lines):
            assert "RoundRobinPartitioning" not in lines[i + 1]
