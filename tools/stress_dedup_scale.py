"""Mass-duplication scale stress: corpus replicated KX with id offsets
-> band buckets grow KX, raw pair emissions K^2 X. Times the full
minhash_lsh_dedup (pairs) pipeline under the adversarial duplicate-mass
skew the VERDICT flagged.

Usage: python tools/stress_dedup_scale.py [repo_or_worktree] [K]
(pass a round-start worktree as repo to A/B old vs new code). Cores
come from $SPARK_GRAFT_CPUS, as for every session get_spark builds."""
import sys
import time

REPO = sys.argv[1] if len(sys.argv) > 1 else "/root/repo"
K = int(sys.argv[2]) if len(sys.argv) > 2 else 4
sys.path.insert(0, REPO)
from pyspark.sql import functions as F
from gfftoneo4j_spark.session import get_spark
from gfftoneo4j_spark.queries import _dup_corpus
import gfftoneo4j_spark.operators.dedup as DD

spark = get_spark(app="scale-stress")
base = _dup_corpus(spark, "/root/testdata/sf0.1")
parts = [base.select((F.col("doc_id") + 10_000_000 * i).alias("doc_id"), "text") for i in range(K)]
corpus = parts[0]
for p in parts[1:]:
    corpus = corpus.unionByName(p)
corpus = corpus.localCheckpoint(eager=True)
n = corpus.count()
t0 = time.time()
out = DD.minhash_lsh_dedup(corpus, "doc_id", "text")
out.write.format("noop").mode("overwrite").save()
w = time.time() - t0
print(f"repo={REPO} K={K} docs={n} wall={w:.1f}s", flush=True)
