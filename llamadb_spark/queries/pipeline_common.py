"""Shared pipeline-query plumbing: the table loaders with their
scan-rebalance guard, and the foundational near-dup configuration
(Jaccard threshold, stop-shingle cap, and the d02 pair-generation
oracle) that the dedup, text, and selection families all build on.
Split out of queries/pipeline.py in round 9 (VERDICT r08 #8) — pure
refactor, registry and key semantics unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llamadb_spark.operators import dedup, multimodal, similarity, textops
from llamadb_spark.functions import text as text_fns
from llamadb_spark.functions.text import STOPWORDS
from llamadb_spark.session import read_table


def _rebalance(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread an under-partitioned scan across the cluster before the
    CPU-heavy per-row work every pipeline operator does on these
    tables (shingling, hashing, vector math).

    A parquet scan parallelizes at ROW-GROUP granularity; a
    single-row-group file (how the sf* documents/embeddings tables
    are written) is one task no matter how many cores exist, and
    everything up to the first shuffle then serializes on it —
    measured 18 s single-task vs ~1 s spread for the sf0.1 shingle
    index. The one round-robin exchange of the raw rows is orders of
    magnitude cheaper than serializing the transform; when the scan
    already has enough splits (the 100 TB case) this is a no-op.

    Use it only where per-row CPU work (shingling, the LSH matmul)
    comes before the first shuffle. Where that map side is cheap, the
    exchange spreads no work and costs a shuffle job of its own:
    the exact cosine of d05 and d08 reads ``embeddings`` as scanned,
    because only a hash and a B-way explode precede its block shuffle.
    """
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rebalance(spark, read_table(spark, sf_dir, "documents"))
def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rebalance(spark, read_table(spark, sf_dir, "embeddings"))
JACCARD_THRESHOLD = 0.12
#: Stop-shingle cap for the oracled jaccard family (d02 and the
#: cluster/split queries built on it). Passed EXPLICITLY so the
#: oracle SQL below can mirror it — the operator drops shingles with
#: df > cap from the index before the self-join (set sizes stay
#: full), and the oracle does the same, so operator and oracle stay
#: hash-equal even on a corpus where the cap actually fires.
STOP_SHINGLE_DF = 10_000
ORACLE_D02 = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk FROM documents
),
pos AS (
  SELECT doc_id, unnest(tk) AS w, generate_subscripts(tk, 1) AS i FROM toks
),
sh AS (
  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
  FROM pos a
  JOIN pos b ON a.doc_id = b.doc_id AND b.i = a.i + 1
  JOIN pos c ON a.doc_id = c.doc_id AND c.i = a.i + 2
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
kept AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle
                    HAVING count(*) <= {STOP_SHINGLE_DF})
),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_inter
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a_id, b_id, n_inter,
       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6)
      >= {JACCARD_THRESHOLD}
"""


# --- URL seeding for the domain-curation keys (d26/p20) -------------
#
# documents has no url column, so one is derived deterministically
# from (doc_id, source) with PURE INTEGER arithmetic both engines
# compute identically (no float pow, no engine hash): h is the Knuth
# multiplicative hash of doc_id folded to 20 bits; cubing the uniform
# h and taking the top bits concentrates mass on low domain ids
# (P(domain 0) ≈ (1/4096)^(1/3) ≈ 8%) — the Zipf-ish head a real
# crawl has, so per-domain caps (p20) actually bite. Suffixes cover
# the single-label case and one multi-label case (co.uk), exercising
# the longest-suffix-wins subtlety of registered-domain extraction.

def _docs_with_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import col
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", "source")
        .withColumn("_h", (col("doc_id") * F.lit(2654435761)) % F.lit(1048576))
    )
    tld = (
        F.when(col("_h") % 4 == 0, "com")
        .when(col("_h") % 4 == 1, "org")
        .when(col("_h") % 4 == 2, "net")
        .otherwise("co.uk")
    )
    sub = (
        F.when(F.expr("(_h div 7) % 3") == 0, "")
        .when(F.expr("(_h div 7) % 3") == 1, "www.")
        .otherwise("cdn.")
    )
    url = F.concat(
        F.lit("https://"), sub, F.lit("d"),
        F.expr("(_h * _h * _h) div 281474976710656").cast("string"),
        F.lit("."), tld, F.lit("/"), col("source"), F.lit("/"),
        col("doc_id").cast("string"),
    )
    return d.select("doc_id", "source", url.alias("url"))


#: DuckDB twin of _docs_with_urls — a CTE body yielding
#: (doc_id, source, url). Same integer arithmetic, '//' for 'div'.
ORACLE_URL_SEED = """
  SELECT doc_id, source,
         'https://' ||
         CASE ((h // 7) % 3) WHEN 0 THEN '' WHEN 1 THEN 'www.' ELSE 'cdn.' END ||
         'd' || CAST(((h*h*h) // 281474976710656) AS VARCHAR) || '.' ||
         CASE (h % 4) WHEN 0 THEN 'com' WHEN 1 THEN 'org' WHEN 2 THEN 'net' ELSE 'co.uk' END ||
         '/' || source || '/' || CAST(doc_id AS VARCHAR) AS url
  FROM (SELECT doc_id, source, (doc_id * 2654435761) % 1048576 AS h
        FROM documents)
"""


def _oracle_host_expr(url_expr: str) -> str:
    return (
        f"regexp_extract(lower({url_expr}),"
        " '^[a-z][a-z0-9+.-]*://([^/:?#]+)', 1)"
    )


def _oracle_domain_case(host_expr: str, want: str = "domain") -> str:
    """CASE chain mirroring operators/urls.registered_domain /
    public_suffix — generated from the SAME ordered suffix tuple, so
    operator and oracle cannot disagree on match order."""
    from llamadb_spark.operators.urls import PUBLIC_SUFFIXES

    arms = []
    for s in PUBLIC_SUFFIXES:
        if want == "domain":
            pat = "([^.]+\\." + s.replace(".", "\\.") + ")$"
            val = f"regexp_extract({host_expr}, '{pat}', 1)"
        else:
            val = f"'{s}'"
        arms.append(
            f"WHEN {host_expr} LIKE '%.{s}' OR {host_expr} = '{s}'"
            f" THEN {val}"
        )
    return "CASE " + " ".join(arms) + " ELSE '' END"
