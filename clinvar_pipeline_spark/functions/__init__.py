"""Pure column-expression library (no IO).

Everything exported here returns Catalyst Column expressions that run
in the JVM, UTF-8 byte-budget truncation and width-bucketed packing
included. The Arrow-batched pandas-UDF kernels (the ``*_batch``
factories in functions/hashes.py) are not exported here.
"""

from clinvar_pipeline_spark.functions.sets import (
    array_to_pipe,
    merge_pipe_sets,
    merge_pipe_sets_ci,
    pipe_to_array,
    ranked_clinsig_merge,
    ranked_sort,
)
from clinvar_pipeline_spark.functions.text import (
    byte_trim,
    normalize_term_key,
    pack_width_buckets,
)
from clinvar_pipeline_spark.functions.hashes import (
    hex64,
    md5_fingerprint,
    minhash_signature,
    shingles,
    simhash64,
)

__all__ = [
    "array_to_pipe",
    "byte_trim",
    "hex64",
    "md5_fingerprint",
    "merge_pipe_sets",
    "merge_pipe_sets_ci",
    "minhash_signature",
    "normalize_term_key",
    "pack_width_buckets",
    "pipe_to_array",
    "ranked_clinsig_merge",
    "ranked_sort",
    "shingles",
    "simhash64",
]
