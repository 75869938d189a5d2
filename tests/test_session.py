from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

PROBE = """
import json
from pagerank_giraph_vs_mapreduce_spark.session import get_spark
spark = get_spark(app_name="session-defaults")
conf = spark.sparkContext.getConf()
print(json.dumps({"master": conf.get("spark.master"),
                  "driver_mem": conf.get("spark.driver.memory")}))
spark.stop()
"""


def _mem_bytes(spec: str) -> int:
    """JVM memory string ("7680m", "16g") to bytes."""
    units = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40}
    return int(spec[:-1]) * units[spec[-1].lower()]


def test_default_session_fits_the_host():
    """With neither $SPARK_GRAFT_CPUS nor $SPARK_DRIVER_MEM set, the
    session uses every core this process may run on and a driver heap no
    larger than the physical RAM."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")
    }
    out = subprocess.run(
        [sys.executable, "-c", PROBE],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=240,
        check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got["master"] == f"local[{len(os.sched_getaffinity(0))}]"
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert _mem_bytes(got["driver_mem"]) <= ram
