"""The closed-loop query workloads `star_analytics` and `corpus_llm`.

One client runs registry queries one after another through the noop sink
(everything is computed, nothing is collected). The untimed warm-up runs each
query once through `compare_query` against its DuckDB oracle, which is both
the correctness check and the start of the JIT warm-up. Measured phases run
whole passes over the query list, in a fixed order, as many as come nearest
to `seconds`.
"""

from __future__ import annotations

import itertools
import statistics
import time
import traceback

# Catalog scans and Catalyst joins, aggregates and windows; no Python edge.
# flagship, relational (broadcast and range joins), aggregation, windows and
# two composites.
STAR = "q01 q06 q12 q19 q26 q103 q136".split()
# Self-join and shuffle-heavy dedup, similarity and retrieval, plus the
# mapInPandas multimodal edge (q78): one query per layer (text_analysis,
# dedup, similarity, multimodal, curation, corpus_scoring, sketch_retrieval).
CORPUS = "q62 q69 q72 q78 q137 q153 q176".split()
SETS = {"star_analytics": STAR, "corpus_llm": CORPUS}
# Unchecked passes after the oracle pass, before measuring (JIT warm-up).
# Measured on 4 vCPUs, the pass time fell by 14% and then 5% over the first
# two passes of the star set at sf0.1, and by 14%, 9% and 10% over the first
# three of the corpus set at sf0.01, whose queries are mostly planning. A
# second star pass would cost 5-6 s of a run budget that has none left.
WARM_PASSES = {"star_analytics": 1, "corpus_llm": 2}


def resolve(short_names: list[str]):
    """Registry entries for short names like `q01` (registry keys carry a
    descriptive suffix, `q01_pricing_summary`)."""
    from kinesis_customer_sample_spark.registry import load_registry

    by_short = {name.split("_", 1)[0]: q for name, q in load_registry().items()}
    return [by_short[s] for s in short_names]


def warm_and_check(spark, queries, sf_dir: str, tracer, log) -> tuple[list[str], list[str]]:
    """Run each query once against its oracle. Returns (names of the queries
    that matched, errors)."""
    from kinesis_customer_sample_spark.compare import compare_query, duckdb_connection

    matched, errors = [], []
    con = duckdb_connection(sf_dir)
    try:
        for q in queries:
            with tracer.span("warmup.compare", query=q.name):
                try:
                    res = compare_query(spark, q, sf_dir, con)
                except Exception:  # an engine failure is a counted error, not a crash
                    errors.append(f"{q.name}: {traceback.format_exc(limit=3)}")
                    continue
            if res.ok:
                matched.append(q.name)
            else:
                errors.append(res.report())
            log(f"warmup {q.name}: {'MATCH' if res.ok else 'MISMATCH'}")
    finally:
        con.close()
    return matched, errors


def measure(spark, queries, sf_dir: str, seconds: float, tracer, min_passes: int = 1):
    """Whole passes over `queries`, so every query runs equally often: as
    many as come nearest to `seconds` (at least `min_passes`), stopping once
    another pass would overshoot `seconds` by more than half a pass. Returns
    (samples, errors) with samples = (query name, build s, total s, pass)."""
    samples, errors = [], []
    t0 = time.perf_counter()
    for i in itertools.count():
        q = queries[i % len(queries)]
        start = time.perf_counter()
        passes = i // len(queries)
        if passes >= min_passes and i % len(queries) == 0:
            elapsed = start - t0
            if elapsed + elapsed / passes / 2 >= seconds:
                return samples, errors
        try:
            with tracer.span("query", query=q.name):
                with tracer.span("query.build", query=q.name):
                    df = q.fn(spark, sf_dir)
                built = time.perf_counter()
                with tracer.span("query.execute", query=q.name):
                    df.write.format("noop").mode("overwrite").save()
        except Exception:
            errors.append(f"{q.name}: {traceback.format_exc(limit=3)}")
            continue
        samples.append((q.name, built - start, time.perf_counter() - start, passes))


def per_query_medians(samples) -> dict[str, tuple[float, float]]:
    """Query name -> (median build s, median total s) over its executions."""
    by_query: dict[str, list] = {}
    for name, build, total, _ in samples:
        by_query.setdefault(name, []).append((build, total))
    return {
        name: (statistics.median(r[0] for r in rows), statistics.median(r[1] for r in rows))
        for name, rows in by_query.items()
    }
