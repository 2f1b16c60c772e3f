"""session.get_spark from a script outside the repo: Spark's Python
workers must import the package even when only the driver's sys.path
holds it (no PYTHONPATH, cwd elsewhere)."""
from __future__ import annotations

import os
import subprocess
import sys
import textwrap

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import glob, os, sys
    sys.path.insert(0, {repo!r})
    from pyspark.sql import functions as F
    from elephantdb_spark import DomainSpec, build_domain
    from elephantdb_spark.engine import Domain
    from elephantdb_spark.session import get_spark

    spark = get_spark(
        app_name="edb-session-test", master="local[2]", shuffle_partitions=2,
        extra_conf={{"spark.driver.memory": "1g"}},
    )
    spark.sparkContext.setLogLevel("FATAL")
    try:
        root = os.path.join(os.getcwd(), "dom")
        kv = spark.range(200).select(
            F.concat(F.lit("k"), F.col("id")).cast("binary").alias("key"),
            F.concat(F.lit("v"), F.col("id")).cast("binary").alias("value"),
        )
        spec = DomainSpec(num_shards=2, persistence_opts={{"bloom_fpp": 0.01}})
        build_domain(spark, kv, root, spec, version=1)
        data = glob.glob(os.path.join(root, "1", "shard=*", "*.parquet"))
        sides = glob.glob(os.path.join(root, "1", "shard=*", ".*.bloom"))
        assert data and len(sides) == len(data), (data, sides)
        got = Domain(spark, root).local_multi_get([b"k3", b"k199", b"nope"])
        assert got == {{b"k3": b"v3", b"k199": b"v199", b"nope": None}}, got
        print("SESSION-OK")
    finally:
        spark.stop()
    """
)


def test_python_workers_import_package_without_pythonpath(tmp_path):
    script = tmp_path / "outside.py"
    script.write_text(_SCRIPT.format(repo=_REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and "SESSION-OK" in proc.stdout, (
        proc.stdout[-2000:] + proc.stderr[-4000:]
    )
