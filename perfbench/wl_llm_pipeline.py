"""llm_pipeline — LLM-data operator keys over seeded corpora.  Python
workers and shuffles do the work; the catalog and sources modules do
none.

Each corpus is ``documents`` (seeded word sequences, ``DUP_RATE`` of
them near-duplicates of earlier documents with ~10% of words
perturbed) and ``embeddings`` (clustered 64-d vectors with jittered
near-copies at the same rate).  The keys run in order, each planned
(``registry.QUERIES[key](spark, corpus_dir)``) and executed through the
noop sink.  The operator index caches (pair and k-means) persist
within one corpus and are dropped before the next; the run cycles over
``CORPORA`` measured corpora.  Read-only: write share 0.  Every result
is checked against ``registry.ORACLE[key]`` on DuckDB with the
comparison of ``tests/oracle_harness.py``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Iterator

import duckdb

import data
import layers
from common import Op, OpRecord, Tracer

# One pass is a run's work (8-10 s on 4 cores).  It keeps the quality
# filter, the two dedup keys that share the pair index and the two ANN
# keys; dedup_minhash_lsh (2.5 s) and text_tfidf (1.2 s) would take a
# pass to 13 s, beyond what the benchmark's time budget allows a run.
KEYS = ("quality_gopher_filters", "dedup_ngram_jaccard", "dedup_clusters",
        "sim_topk_ivf", "sim_topk_pq")
ROUND_S = 8.0  # nominal length of one pass (a round) on 4 cores
DOCS, VECS, DUP_RATE = 500, 500, 0.1
WARM_DOCS = 150  # the warm-up corpus only runs each code path once
CORPORA = 2


@dataclass
class State:
    seed: int
    dirs: list  # [warm-up corpus, measured corpora...]
    spark: object
    invalidate: bool = False
    lookups: list = field(default_factory=list)  # (hit: bool) per lookup
    tracer: Tracer = field(default_factory=lambda: Tracer(False))


def prepare(seed: int, scale: float, out: str) -> list[str]:
    """Corpus 0 (warm-up) and the measured corpora, one directory each."""
    dirs = []
    for c in range(CORPORA + 1):
        d = os.path.join(out, f"corpus{c}")
        docs, vecs = (WARM_DOCS, WARM_DOCS) if c == 0 else (DOCS, VECS)
        tables = data.llm_corpus(seed, c, max(int(docs * scale), 120),
                                 max(int(vecs * scale), 120), DUP_RATE)
        data.write_tables(tables, d)
        dirs.append(d)
    return dirs


def setup(spark, seed: int, scale: float, dirs: list) -> State:
    from datafusion_catalogprovider_glue_spark.operators import registry

    registry.load_all_operator_modules()
    return State(seed, dirs, spark)


def _drop_caches() -> None:
    from datafusion_catalogprovider_glue_spark.operators import dedup, similarity

    dedup.invalidate_pair_cache()
    similarity.invalidate_kmeans_cache()


def _run_key(state: State, key: str, corpus_dir: str):
    from datafusion_catalogprovider_glue_spark.operators import registry

    with state.tracer.span(f"operators.{key}.plan"):
        df = registry.QUERIES[key](state.spark, corpus_dir)
    with state.tracer.span(f"spark.noop.{key}"):
        df.write.format("noop").mode("overwrite").save()
    return df


def warmup(spark, state: State) -> None:
    for key in KEYS:
        _run_key(state, key, state.dirs[0])
    _drop_caches()


def _track_lookups(state: State, module, name: str, cache_attr: str) -> None:
    """Record hit/miss of a cache accessor: a lookup hits when it leaves
    the cache's size unchanged."""
    fn = getattr(module, name)

    def wrapper(*args, **kwargs):
        before = len(getattr(module, cache_attr))
        out = fn(*args, **kwargs)
        state.lookups.append(len(getattr(module, cache_attr)) == before)
        return out

    setattr(module, name, wrapper)


def install_tracing(tracer: Tracer, state: State) -> None:
    from datafusion_catalogprovider_glue_spark.operators import dedup, similarity

    state.tracer = tracer
    if tracer.enabled:
        _track_lookups(state, dedup, "_ngram_pairs", "_PAIR_CACHE")
        _track_lookups(state, similarity, "_kmeans", "_KMEANS_CACHE")


def before_loop(spark, state: State) -> None:
    pass


def ops(spark, state: State) -> Iterator[Op]:
    corpus = 0
    while True:
        corpus = corpus % CORPORA + 1
        for i, key in enumerate(KEYS):
            last = i == len(KEYS) - 1

            def fn(k=key, c=corpus, last=last):
                df = _run_key(state, k, state.dirs[c])
                state.invalidate = last
                return df

            yield Op(key, fn, {"corpus": corpus}, ends_round=last)


def between(state: State) -> None:
    """Corpus boundary: drop the index caches (untimed)."""
    if state.invalidate:
        _drop_caches()
        state.invalidate = False


def after_loop(spark, state: State, records: list[OpRecord], tracer: Tracer) -> dict:
    return {"per_layer": {}}


def _duck(corpus_dir: str):
    con = duckdb.connect()
    for name in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(corpus_dir, name + '.parquet')}')")
    return con


def check(spark, state: State, records: list[OpRecord]) -> list[str]:
    """Each distinct (corpus, key) result once: repeated passes over a
    corpus run the same plan on the same files."""
    from datafusion_catalogprovider_glue_spark.operators import registry
    from tests import oracle_harness

    problems, seen, cons = [], set(), {}
    for r in records:
        c = r.meta["corpus"]
        if r.error is not None or (c, r.kind) in seen:
            continue
        seen.add((c, r.kind))
        con = cons.setdefault(c, _duck(state.dirs[c]))
        try:
            oracle_harness.compare(r.output, con, registry.ORACLE[r.kind])
        except AssertionError as exc:
            problems.append(f"op {r.op_id} {r.kind} corpus {c}: {str(exc)[:300]}")
    return problems


def layer_metrics(tracer: Tracer, state: State, records) -> dict:
    out = layers.common_layer_metrics(tracer)
    for key in KEYS:
        out[f"operators.{key}.plan_s"] = tracer.totals(f"operators.{key}.plan")[0]
        out[f"operators.{key}.exec_s"] = tracer.totals(f"spark.noop.{key}")[0]
    hits = sum(state.lookups)
    out["operators.index_cache_lookups"] = len(state.lookups)
    out["operators.index_cache_hit_ratio"] = (
        hits / len(state.lookups) if state.lookups else 0.0)
    return out


def corrupt(records: list[OpRecord]) -> None:
    for r in records:
        if r.error is None:
            r.output = r.output.limit(0)
            return
    raise AssertionError("no result to corrupt")
