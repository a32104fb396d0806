"""``get_spark`` sessions run the package's Python UDFs whatever the
driver's working directory is."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import currency_market_pulse_spark

REPO = os.path.dirname(os.path.dirname(
    os.path.abspath(currency_market_pulse_spark.__file__)))

_SCRIPT = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})

    from currency_market_pulse_spark.functions.wire import (
        encode_trade, from_trade_proto,
    )
    from currency_market_pulse_spark.session import get_spark

    spark = get_spark(app_name="foreign-cwd", master="local[1]",
                      shuffle_partitions=1)
    payload = encode_trade("134256", "EUR", "GBP", 1_000_000_000,
                           747_100_000, 1_516_789_664_000, "FR")
    df = spark.createDataFrame([(bytearray(payload),)], "value binary")
    rows = from_trade_proto(df).collect()
    spark.stop()
    assert [r.user_id for r in rows] == ["134256"], rows
    print("OK")
""")


def test_python_udf_runs_from_foreign_cwd(tmp_path):
    """The driver imports the package through sys.path from a cwd that
    is not the repo root; the mapInPandas worker must still import it
    (it sees neither the driver's sys.path nor its cwd)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO)],
        cwd=tmp_path, env=env, capture_output=True, text=True,
        timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().endswith("OK")
