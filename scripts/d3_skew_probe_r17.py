"""r17 skew probe (verdict item 5): K-copy boilerplate doc -> K^2
candidate pairs. Compares the verify's intersect cost with and without
the precomputed set-hash short-circuit, on identical candidates: the
"new" arm is the production verify (dedup._verify_set_pairs and its
Jaccard scorer), the "old" arm an inline always-intersect baseline.

The OUTPUT is quadratic by contract (every qualifying pair is a result
row), so K is chosen to keep the row count materialisable; the probe
isolates the per-pair verify COST, which is what the short-circuit
changes (O(shingles) -> O(1) on equal-set pairs)."""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cellphe_data_pipeline_spark.session import get_spark
from cellphe_data_pipeline_spark.checkpoint import cut_lineage
from cellphe_data_pipeline_spark.operators.dedup import (
    _jaccard_scores,
    _shingle_set_cut,
    _verify_set_pairs,
    lsh_candidate_pairs,
    minhash_band_keys,
)
from pyspark.sql import functions as F

K = int(os.environ.get("SKEW_K", "1500"))
spark = get_spark(app_name="d3-skew-probe")

base = (
    spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    .select("doc_id", "text")
    .limit(2000)
)
boiler = " ".join(f"boilerplate legal footer clause {i} of the standard terms" for i in range(40))
copies = spark.range(K).select(
    (F.lit(10_000_000) + F.col("id")).alias("doc_id"), F.lit(boiler).alias("text")
)
docs = base.unionByName(copies).repartition(32, "doc_id")

arr = _shingle_set_cut(docs, "text", "doc_id", 3, "skew-arr")
sh = arr.select("doc_id", F.explode("sh_set").alias("sh"))
bk = cut_lineage(minhash_band_keys(sh), eager=False, name="skew-bk")
cand = cut_lineage(lsh_candidate_pairs(bk, dedup=True), eager=False, name="skew-cand")
n_cand = cand.count()
print("candidate pairs:", n_cand)

a = cand.join(arr.withColumnsRenamed({"doc_id": "doc_a", "sh_set": "_sa", "_ha": "_hha"}), "doc_a")
ab = a.join(arr.withColumnsRenamed({"doc_id": "doc_b", "sh_set": "_sb", "_ha": "_hhb"}), "doc_b")
ni = F.size(F.array_intersect("_sa", "_sb"))
j = ni.cast("double") / (F.size("_sa") + F.size("_sb") - ni)
old = ab.withColumn("_ni", ni).withColumn("jaccard", j).filter(
    (F.col("_ni") >= 1) & (F.col("jaccard") >= 0.3)
).select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
new = _jaccard_scores(_verify_set_pairs(cand, arr, arr), 0.3)

def mat(df): df.write.format("noop").mode("overwrite").save()
# equality of results first
agg_old = old.agg(F.count(F.lit(1)), F.sum("jaccard")).collect()[0]
agg_new = new.agg(F.count(F.lit(1)), F.sum("jaccard")).collect()[0]
print("old agg:", tuple(agg_old), " new agg:", tuple(agg_new), " equal:", tuple(agg_old) == tuple(agg_new))

A, B = [], []
for rep in range(3):
    t0 = time.perf_counter(); mat(old); A.append(round(time.perf_counter() - t0, 3))
    t0 = time.perf_counter(); mat(new); B.append(round(time.perf_counter() - t0, 3))
print(f"K={K}  verify old (always-intersect): {A} min {min(A)}")
print(f"K={K}  verify new (hash short-circuit): {B} min {min(B)}")
