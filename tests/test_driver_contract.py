"""The driver contract from the driver's side: a fresh process builds a
vanilla SparkSession (no engine confs at all) and drives this
checkout's ``__spark_entry__`` the way an external driver does. Its
opted-in fact scans fan out like an engine session's, its values match
the DuckDB oracles, and the AQE gate leaves the driver's conf as it
found it."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FANNED = ("text_lang_bigram_score", "graph_community_modularity")
GATED = "graph_kcore_peel"

DRIVER = r"""
import json
import sys

repo, sf_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
sys.path.insert(0, repo)

from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[2]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E
from etl_data_ingestion_spark.plans import parity

qs, oracles = E.queries(), E.oracle_sql()
con = parity.duckdb_views(sf_dir)
out = {}
for name in names:
    df = qs[name](spark, sf_dir)
    ran = parity.duckdb_run(con, oracles[name], fetch="fetchdf")
    out[name] = {
        "mismatch": parity.compare(df.toPandas(), ran[1]) if ran else "oracle timed out",
        "plan": df._jdf.queryExecution().executedPlan().toString(),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
    }
spark.stop()
print(json.dumps(out))
"""


def test_vanilla_session_fans_out_and_matches_oracles(sf_dir, tmp_path):
    names = [*FANNED, GATED]
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER, REPO, sf_dir, *names],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    for name in names:
        assert out[name]["mismatch"] is None, (name, out[name]["mismatch"])
    for name in FANNED:
        assert "RoundRobinPartitioning" in out[name]["plan"], name
    assert out[GATED]["aqe"] == "true"
