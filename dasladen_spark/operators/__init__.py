"""Custom operators Spark lacks as built-ins, expressed Spark-first:

- asof       — as-of (backward) join via union + running window; one
               shuffle on the key, no cross product, scales to 100 TB
- dedup      — exact, fingerprint, MinHash-LSH, SimHash, n-gram
               Jaccard, embedding-cosine near-dup
- clustering — distributed k-means (broadcast assign + partial
               component sums, driver holds k×dim floats)
- graph      — connected components (pairs → dedup clusters) and
               PageRank, one shuffle per iteration
- intervals  — interval union (cumulative-max grouping, one key
               shuffle) and interval-overlap join via grid binning
- merge      — merge-upsert, SCD2, CDC snapshot diff
- multimodal — opaque binary payload columns with typed metadata and
               mapInPandas decode/feature/segment plumbing (decoder
               stubbed: image/audio libs are not in this container)
- quality    — single-pass data-quality contracts
- ranking    — distributed global row_number / NTILE / prefix sums
               (range partition + broadcast offsets, never a
               single-partition window)
- sampling   — deterministic / stratified / weighted sampling
- similarity — brute-force cosine top-k (broadcast queries), LSH- and
               IVF-bucketed approximate variants
- skew       — salted join for extreme key skew
"""

from dasladen_spark.operators.asof import asof_join  # noqa: F401
from dasladen_spark.operators.dedup import (  # noqa: F401
    exact_dedup,
    minhash_signatures,
    minhash_lsh_pairs,
    simhash,
    simhash_pairs,
    ngram_jaccard_pairs,
    embedding_near_dup_pairs,
)
from dasladen_spark.operators.clustering import kmeans_fit  # noqa: F401
from dasladen_spark.operators.graph import (  # noqa: F401
    connected_components,
    dedup_clusters,
    pagerank,
)
from dasladen_spark.operators.intervals import merge_intervals  # noqa: F401
from dasladen_spark.operators.ranking import (  # noqa: F401
    global_ntile,
    global_prefix_sum,
    global_row_number,
)
from dasladen_spark.operators.similarity import cosine_topk, lsh_cosine_topk  # noqa: F401