"""Occupancy guards for blocking-key self-joins (stop-shingles, LSH
bucket caps).

Every candidate-pair generator in the dedup/similarity family has the
same quadratic hazard: a self-join on a blocking key (shingle, minhash
band bucket, hyperplane bucket) produces O(occupancy²) pairs per key.
One boilerplate sentence shared by 1% of a 100 TB corpus is a single
key with 10⁶⁺ rows — AQE's skew split spreads the *shuffle* but cannot
reduce the *pair count*. The standard fix (Leskovec et al., "Mining of
Massive Datasets", ch. 3 stop-shingle discussion) is to drop keys
whose occupancy exceeds a cap before the join: ultra-common blocking
keys carry almost no signal (they match everything), so the recall
loss is negligible while the candidate volume drops from quadratic to
bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit


def drop_hot_keys(
    df: DataFrame,
    key_cols: list[str],
    cap: int | None,
    *,
    entities: int | None = None,
) -> DataFrame:
    """Drop all rows whose blocking key occurs more than ``cap`` times.

    Shape: aggregate the key's occupancy (map-side partial counts →
    one small shuffle), keep only keys OVER the cap — a list bounded
    by rows/cap entries, i.e. broadcast-sized by construction — and
    broadcast LEFT ANTI join it against the index. The alternative
    (an unordered window count) repartitions the full index and the
    Window operator defeats exchange-reuse canonicalization, so the
    producing pipeline runs once per downstream reference; the
    anti-join keeps the index subtree intact for reuse. Callers
    should stage (localCheckpoint / write) the index when it is
    expensive to recompute, since both this guard and the self-join
    consume it.

    ``entities`` is the caller's bound on any key's rows: the number
    of entities (documents, signatures, vectors) in ``df`` when each
    contributes a key at most once (a doc's distinct shingle hashes,
    one ``(band, bucket)`` per signature per band, one
    ``(tbl, bucket)`` per vector per table), read from the job that
    staged ``df``. At or below ``cap`` no key can exceed the cap, so
    the guard is the identity and neither its aggregate nor its
    broadcast is planned; above it the guard runs as if no bound were
    given. For hashed keys the once-per-entity argument holds up to
    64-bit collisions: two distinct shingles of one doc sharing a
    hash count once, as in the join itself (odds over n distinct
    shingles ≈ n²/2⁶⁵, see operators/dedup.hashed_shingle_index).
    Leave ``entities`` out where a key can repeat within an entity
    (a gram hash posted once per position) or no staging job counts
    the entities.

    ``cap=None`` disables the guard (exact semantics at any size —
    caller's responsibility).
    """
    if cap is None or (entities is not None and entities <= cap):
        return df
    hot = (
        df.groupBy(*key_cols)
        .agg(F.count(lit(1)).alias("_df"))
        .filter(col("_df") > cap)
        .select(*key_cols)
    )
    return df.join(F.broadcast(hot), key_cols, "left_anti")
