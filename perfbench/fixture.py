"""Benchmark fixtures: generated source tables and prebuilt indexes.

Everything lives under ``.bench_build/perfbench`` in the checkout. The index
directory name carries a hash of every ``pysparkline/**/*.py`` file, of this
package's data generator, and of the scale factors, so a change to the
engine's build code is always timed on an index that code built.

Run as a script, it builds whatever is missing::

    python3 perfbench/fixture.py

``run.py`` calls it in a child process before any timed work, so a build
never shares a JVM with a measured run.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

READ_SF = 0.1    # the star the read workloads query
WRITE_SF = 0.01  # the star the traced write probe appends to and compacts
N_DOCS = 5000    # documents at sf0.1, as in the engine's own test data
DATA_SEED = 20240501
CPUS = max(1, min(4, os.cpu_count() or 1))


def code_hash() -> str:
    """sha256 over the engine's Python sources, the data generator and the
    fixture settings, so a change to any of them gets a fresh fixture."""
    h = hashlib.sha256()
    files = []
    for base, _dirs, names in os.walk(os.path.join(ROOT, "pysparkline")):
        files += [os.path.join(base, n) for n in names if n.endswith(".py")]
    files.append(os.path.join(HERE, "datagen.py"))
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(json.dumps([READ_SF, WRITE_SF, N_DOCS, DATA_SEED, CPUS]).encode())
    return h.hexdigest()[:16]


def paths() -> dict:
    key = code_hash()
    data = os.path.join(WORK, f"data-{key}")
    return {
        "key": key,
        "read_data": os.path.join(data, f"sf{READ_SF}"),
        "write_data": os.path.join(data, f"sf{WRITE_SF}"),
        "index_root": os.path.join(WORK, f"index-{key}"),
        "meta": os.path.join(WORK, f"fixture-{key}.json"),
    }


def spark_session(local_dir: str, app: str = "perfbench", ui: bool = False):
    """Local session with the settings of ``pysparkline.session.get_spark``,
    sized for a small host: at most 4 cores and a 3 GB driver heap. Spark's
    scratch space and every temp file go to ``local_dir``. ``ui`` starts
    the Spark UI, whose REST API the traced run reads."""
    from pyspark.sql import SparkSession

    # the JVM reads this at launch and it wins over spark.local.dir; temp
    # files of the launcher and the JVM stay in the same place
    os.makedirs(local_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = local_dir
    tempfile.tempdir = local_dir
    spark = (
        SparkSession.builder.appName(app)
        .master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", str(max(8, CPUS)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "3g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={local_dir}")
        .config("spark.local.dir", local_dir)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def load_meta() -> dict | None:
    try:
        with open(paths()["meta"]) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def prepare() -> dict:
    """Generate the tables and build both indexes unless already present.
    Returns the fixture description that ``run.py`` reads."""
    meta = load_meta()
    if meta is not None:
        return meta
    import shutil

    import datagen

    p = paths()
    for sf, out in ((READ_SF, p["read_data"]), (WRITE_SF, p["write_data"])):
        if not os.path.exists(os.path.join(out, "lineitem.parquet")):
            datagen.write_star(out, sf)
    docs = os.path.join(p["read_data"], "documents.parquet")
    if not os.path.exists(docs):
        datagen.write_documents(p["read_data"], N_DOCS, DATA_SEED)

    sys.path.insert(0, ROOT)
    from pysparkline import tpch

    os.makedirs(WORK, exist_ok=True)
    local = tempfile.mkdtemp(prefix="spark-", dir=WORK)
    spark = spark_session(local, "perfbench-fixture")
    try:
        meta = {"key": p["key"], "build_s": {}, "index": {}}
        for name, data in (("read", p["read_data"]), ("write", p["write_data"])):
            t0 = time.perf_counter()
            idx = tpch.build_or_load_index(spark, data, cache_root=p["index_root"])
            meta["build_s"][name] = time.perf_counter() - t0
            meta["index"][name] = idx.path
    finally:
        spark.stop()
        shutil.rmtree(local, ignore_errors=True)
    meta.update({k: p[k] for k in ("read_data", "write_data")})
    tmp = p["meta"] + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=1)
    os.replace(tmp, p["meta"])
    return meta


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    os.environ["PYTHONPATH"] = ROOT
    print(json.dumps(prepare()))
