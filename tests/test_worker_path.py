"""Python workers of a ``build_session`` session import pyspark from a
directory, with none of Spark's jar and zips on their path, and a driver
started outside the checkout still runs pandas UDFs."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_load_pyspark_from_a_directory(spark):
    @F.pandas_udf("string")
    def worker_path(s: pd.Series) -> pd.Series:
        import sys

        import pyspark

        seen = {
            "pyspark": pyspark.__file__,
            "archives": [p for p in sys.path if p.endswith((".jar", ".zip"))],
        }
        return s.map(lambda _: json.dumps(seen))

    seen = json.loads(spark.range(1).select(worker_path(F.col("id").cast("string"))).first()[0])
    assert os.path.isfile(seen["pyspark"]), seen["pyspark"]
    spark_archives = [
        p for p in seen["archives"]
        if p.endswith(".jar") or os.path.basename(p).startswith(("pyspark", "py4j"))
    ]
    assert spark_archives == []


DRIVER = """
import sys
sys.path.insert(0, {root!r})
import pandas as pd
from pyspark.sql import functions as F
from sagan_spark.rules.compiler import CompiledRules
from sagan_spark.rules.fixture_rules import fixture_rules
from sagan_spark.session import build_session, local_df

spark = build_session("outside_checkout", master="local[2]")

@F.pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

print(spark.range(3).select(plus_one("id")).collect())
df = local_df(spark, [("PROTO tcp port 9000 src=10.1.2.3", "en", "src1", 0)],
              "text string, lang string, source string, warc_epoch bigint")
print("SIDS", CompiledRules(list(fixture_rules())).with_sids(df).first()["sids"])
spark.stop()
"""


def test_driver_outside_the_checkout(tmp_path):
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")}
    env.update(SPARK_DRIVER_MEMORY="1g", SPARK_GRAFT_LOCAL_DIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER.format(root=ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "SIDS [5000006, 5000034]" in proc.stdout, proc.stdout
