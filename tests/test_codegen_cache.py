"""Generated code is kept across queries in an engine-built session.

Spark keeps Janino-compiled whole-stage-codegen classes in one JVM-wide
LRU cache sized by the static ``spark.sql.codegen.cache.maxEntries``
(default 100). One pass over the warehouse headline queries uses a few
hundred distinct classes, and a cyclic pass larger than an LRU cache
never hits it, so at the default every repeat pass recompiled
everything. ``session.get_spark`` raises the cap; this test checks that
a repeat pass compiles (almost) nothing.
"""

from __future__ import annotations

import __spark_entry__ as entrymod
from bench import HEADLINE
from healthcare_data_warehouse_spark.session import CODEGEN_CACHE_ENTRIES

from conftest import SF_SMOKE

# The headline queries that call the text/dedup/similarity/bpe/curation/
# sketch operators (Arrow/pandas workers); the rest stay in the JVM.
CORPUS = {
    "dedup_minhash_lsh", "ann_cosine_topk", "dedup_embedding_cosine",
    "corpus_clean", "token_heavy_hitters", "text_redact_pii",
    "chunk_documents", "vocab_bigrams", "quality_bigram_lm",
    "dedup_rare_shingle_pairs", "bm25_topk", "hybrid_search_rrf",
    "dedup_substring_spans", "vocab_bpe_segment", "dedup_embedding_topk",
    "ann_knn_join",
}
WAREHOUSE = [q for q in HEADLINE if q not in CORPUS]


def _compiles(jvm) -> int:
    """Janino compilations in this JVM so far."""
    return jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()


def _clear_codegen_cache(jvm) -> None:
    """Empty the JVM-wide generated-class cache, so that pass 1 compiles
    every class however many queries earlier tests in this session ran."""
    cls = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()


def test_repeat_pass_reuses_generated_classes(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)

    jvm = spark.sparkContext._jvm
    qs = entrymod.queries()
    _clear_codegen_cache(jvm)
    per_pass = []
    for _ in range(2):
        before = _compiles(jvm)
        for q in WAREHOUSE:
            qs[q](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
        per_pass.append(_compiles(jvm) - before)
    first, second = per_pass
    # more classes than Spark's default 100-entry cache holds: at that
    # cap the second pass would recompile all of them
    assert first > 100, per_pass
    assert second < 0.05 * first, per_pass
