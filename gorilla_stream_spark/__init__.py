"""gorilla_stream_spark — a PySpark-native per-column lightweight-compression
engine for token-array tables.

Reimagines the dataflow of the reference library ``awksedgreep/gorilla_stream``
(an Elixir+C++ Gorilla/Chimp time-series codec, see ``/root/reference``) as a
Spark-first engine: Spark DataFrames + Arrow-vectorized ``mapInPandas`` carry
the distribution story (partitioning, skew, lineage, resume), while pure-numpy
kernels carry the bit-level story (delta-of-delta, XOR-mantissa, RLE, dict,
FSST-style symbol tables, frame-of-reference bit-packing) with per-block codec
auto-selection.

Public API (analog of ``GorillaStream.compress/decompress``,
``/root/reference/lib/gorilla_stream.ex:74-119``):

    encode(df, ...)   -> encoded blocks DataFrame (buffer + inline manifest)
    decode(enc_df)    -> original rows DataFrame (bit-identical tokens)
    estimate(df, ...) -> per-block codec-selector feature/cost DataFrame
    validate(df) / clean(df) / validate_timeseries(df)

LLM training-data operators (round 2):

    dedup_exact(df) / neardup_pairs(df) / simhash(df) / quality_score(df)
    encode_vectors(df) / decode_vectors(enc) / topk_dot(df, queries)
    cosine_neardup_pairs(df) / ann_search(enc, queries)
"""

# first: a Spark Python worker imports the package when it unpickles any of
# its kernels, and from then on skips re-reading unchanged zip archives at
# every task start (see _zipcache)
from gorilla_stream_spark import _zipcache

_zipcache.install()

from gorilla_stream_spark.analyze import analyze_and_recommend
from gorilla_stream_spark.engine import (
    compact_blocks,
    decode,
    decode_docs,
    delete_docs,
    decode_timeseries,
    encode,
    encode_timeseries,
    estimate,
    manifest,
    merge_tables,
    read_timerange,
    transcode_blocks,
)
from gorilla_stream_spark.engine import (
    decode_multi,
    encode_multi,
    narrow_multi,
    widen_multi,
)
from gorilla_stream_spark.incremental import (
    changed_partitions,
    incremental_encode,
    snapshot_diff,
)
from gorilla_stream_spark.packing import (
    pack_sequences,
    shard_manifest,
    write_training_shards,
)
from gorilla_stream_spark.pipeline import run_pipeline
from gorilla_stream_spark.vocab import unigram_logprob
from gorilla_stream_spark.textops import (
    decontaminate,
    duplicate_spans,
    strip_duplicate_spans,
    dedup_exact,
    sample_corpus,
    doc_fingerprint,
    lang_id,
    neardup_pairs,
    quality_score,
    simhash,
    simhash_neardup_pairs,
    text_stats,
)
from gorilla_stream_spark.gorilla_wire import (
    decode_points,
    decode_timeseries_wire,
    encode_points,
    encode_timeseries_wire,
    read_gorilla_file,
    read_timerange_wire,
    wire_info,
    write_gorilla_file,
)
from gorilla_stream_spark.validate import clean, fsck, fsck_blocks, validate, validate_timeseries
from gorilla_stream_spark.vectors import (
    ann_search,
    cosine_neardup_pairs,
    decode_vectors,
    encode_vectors,
    topk_dot,
)

__version__ = "0.2.0"

__all__ = [
    "encode",
    "compact_blocks",
    "merge_tables",
    "transcode_blocks",
    "decode",
    "encode_timeseries",
    "decode_timeseries",
    "estimate",
    "manifest",
    "decode_docs",
    "delete_docs",
    "encode_multi",
    "decode_multi",
    "widen_multi",
    "narrow_multi",
    "duplicate_spans",
    "strip_duplicate_spans",
    "changed_partitions",
    "incremental_encode",
    "snapshot_diff",
    "unigram_logprob",
    "run_pipeline",
    "write_training_shards",
    "shard_manifest",
    "read_timerange",
    "analyze_and_recommend",
    "validate",
    "fsck_blocks",
    "fsck",
    "clean",
    "validate_timeseries",
    "dedup_exact",
    "neardup_pairs",
    "decontaminate",
    "simhash",
    "simhash_neardup_pairs",
    "text_stats",
    "quality_score",
    "lang_id",
    "doc_fingerprint",
    "sample_corpus",
    "pack_sequences",
    "encode_vectors",
    "decode_vectors",
    "topk_dot",
    "cosine_neardup_pairs",
    "ann_search",
    "encode_points",
    "decode_points",
    "wire_info",
    "encode_timeseries_wire",
    "decode_timeseries_wire",
    "read_timerange_wire",
    "write_gorilla_file",
    "read_gorilla_file",
    "__version__",
]
