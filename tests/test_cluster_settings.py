"""The cluster settings the engine promises to honor: a reliable
checkpoint dir reaches every materialized frame, the package reaches
the Python workers without any help from the working directory or
``PYTHONPATH``, and the session keeps its plan working set compiled."""

_SCRIPT = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])  # the only way this process finds the package
from tundradb_spark.operators.analytics import robust_outliers
from tundradb_spark.operators.relational import resample_ffill
from tundradb_spark.pipeline.dedup import minhash_lsh_pairs, semantic_dedup
from tundradb_spark.pipeline.multimodal import attach_binary, decode_image
from tundradb_spark.pipeline.sampling import split_leakage
from tundradb_spark.pipeline.text import bpe_segment
from tundradb_spark.session import ensure_runtime_confs, get_spark

ckpt = sys.argv[2]
spark = get_spark("cluster-settings-probe", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
base = "the quick brown fox jumps over the lazy dog near the river bank"
texts = [base, base + " today", "lorem ipsum dolor sit amet consectetur",
         "lorem ipsum dolor sit amet consectetur adipiscing", base,
         "an entirely different sentence about graphs and joins"]
docs = spark.createDataFrame(
    [(i, t, "train" if i % 2 else "test") for i, t in enumerate(texts)],
    "doc_id long, text string, split string",
)
events = spark.createDataFrame(
    [(i, 1_000_000 * (i * 7 % 40), i % 3, "ab"[i % 2], float(i % 5))
     for i in range(24)] + [(99, 5_000_000, 0, "a", 500.0)],
    "event_id long, ts long, user_id long, event_type string, value double",
)
emb = spark.createDataFrame(
    [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.001, 0.0, 0.0, 0.0]),
     (3, [0.0, 1.0, 0.0, 0.0]), (4, [0.0, 0.0, 1.0, 0.2])],
    "vec_id long, embedding array<double>",
)


def rows(df):
    return sorted(json.dumps(list(r), default=str) for r in df.collect())


def run():
    pairs = minhash_lsh_pairs(docs)
    return {
        "minhash_lsh_pairs": rows(pairs),
        "bpe_segment": rows(bpe_segment(docs, n_merges=4)),
        "resample_ffill": rows(resample_ffill(events, 10_000_000, "user_id", "value")),
        "robust_outliers": rows(robust_outliers(events)),
        "split_leakage": rows(split_leakage(docs, pairs)),
        "semantic_dedup": rows(semantic_dedup(
            emb, threshold=0.99, n_cells=2, dim=4, vectorized=True
        )),
        "decode_image": rows(decode_image(attach_binary(docs), codec="fake")),
    }


plain = run()
spark.sparkContext.setCheckpointDir(ckpt)
reliable = run()
written = [d for _, dirs, _ in os.walk(ckpt) for d in dirs if d.startswith("rdd-")]
ensure_runtime_confs(spark)  # the package is shipped once per SparkContext
shipped = spark.sparkContext._python_includes.count("tundradb_spark.zip")
print("RESULT " + json.dumps({
    "plain": plain, "reliable": reliable, "written": len(written), "shipped": shipped,
}))
spark.stop()
"""


def test_reliable_checkpoint_dir_and_python_workers_outside_the_repo(tmp_path):
    """Operators that materialize frames or run Python workers
    (``applyInPandas``, ``mapInPandas``), driven from a working directory
    outside the repo by a process that reaches the package only through
    ``sys.path``: they run, and under a reliable checkpoint dir they give
    the plain run's results and write checkpoint files.  A subprocess
    keeps the cwd and the checkpoint dir out of the shared test session."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    work = tmp_path / "work"
    work.mkdir()
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, repo, str(tmp_path / "ckpt")],
        cwd=work, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = next(x for x in proc.stdout.splitlines() if x.startswith("RESULT "))
    got = json.loads(line[len("RESULT "):])
    plain, reliable = got["plain"], got["reliable"]
    assert all(plain.values()), [k for k, v in plain.items() if not v]
    for name in plain:
        assert reliable[name] == plain[name], name
    assert got["written"] > 0  # reliable checkpoints were written
    assert got["shipped"] == 1


def test_a_working_set_larger_than_sparks_default_codegen_cache_compiles_once(spark):
    """120 distinct plans, more than Spark's default codegen cache of 100
    classes, prepared twice: the second pass compiles nothing, because
    ``get_spark`` sizes the cache to the engine's working set.  The
    literal is inlined into the generated Java, so each ``i`` is its own
    class.  ``execute()`` builds the plan's RDD, which compiles its
    whole-stage class on the driver without running a job."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    shapes = [f"id * {i}" for i in range(120)]

    def prepare_all():
        for expr in shapes:
            spark.range(10).selectExpr(expr)._jdf.queryExecution().executedPlan().execute()

    prepare_all()
    first = compiles.getCount()
    prepare_all()
    assert compiles.getCount() == first
