"""The session factory's codegen cache holds the engine's working set:
a dedup pass built a second time reuses every generated class instead
of compiling it again."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
from profile_query import codegen_compiles, jvm_calls  # noqa: E402


def test_rebuilt_dedup_pass_compiles_nothing(spark, sf_dir):
    """Two rounds of fresh builds (``__wrapped__``, so no cached plan or
    fixture is reused) of the dedup pass: the shared Jaccard fixture,
    label propagation and the MinHash pairs, each built and written.
    The pass generates about 140 distinct classes, more than Spark's
    default cache of 100 holds, so without the session's larger cache
    round 2 recompiles most of them."""
    from hummingbirddatapipeline_spark.catalog import dedup_q

    ops = (
        dedup_q.shared_jaccard_pairs.__wrapped__,
        dedup_q.dedup_label_propagation.__wrapped__,
        dedup_q.dedup_minhash_pairs.__wrapped__,
    )
    compiled = []
    for _ in range(2):
        before = codegen_compiles(spark)[0]
        for op in ops:
            op(spark, sf_dir).write.format("noop").mode("overwrite").save()
        compiled.append(codegen_compiles(spark)[0] - before)
    assert compiled[1] == 0, compiled


def test_dedup_builds_stay_under_jvm_call_budget(spark, sf_dir):
    """Plan-construction work per rebuilt dedup plan, in py4j calls: the
    wide MinHash and term-index expression lists travel to the JVM as
    SQL text and each vocabulary is collected once. Going back to one
    Column per node (32 min-hash slots, 8 band keys and their structs,
    a struct per vocabulary term) overruns the budget. The first build warms
    one-time lookups, so the second is the one counted."""
    from hummingbirddatapipeline_spark.catalog import dedup_q

    budgets = {
        # 3,391 calls with a Column per node; 1,540 as SQL text; 1,177
        # with the band struct array as SQL text too
        "dedup_minhash_pairs": 1300,
        # 2,614 calls with a Column per node and a second vocabulary
        # collect; 682 as SQL text with one collect; 468 with the
        # bitmask aggregate and intersect as SQL text
        "shared_jaccard_pairs": 520,
    }
    used = {}
    for name in budgets:
        build = getattr(dedup_q, name).__wrapped__
        build(spark, sf_dir)
        before = jvm_calls(spark)
        build(spark, sf_dir)
        used[name] = jvm_calls(spark) - before
    assert all(used[n] <= budgets[n] for n in budgets), used
