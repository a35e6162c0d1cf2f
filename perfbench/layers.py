"""Traced runs: timing wrappers around the engine's public functions,
one span family per layer (module), plus the per-layer metrics derived
from the spans.  Installed only with ``--trace 1``; untraced runs call
the engine unwrapped.

Layer names are the engine's module names: ``catalog`` (catalog.py and
its FakeGlue client), ``types``, ``sources.formats``, ``infoschema``,
``sources.<fmt>`` readers and writers, ``operators``.  ``spark`` spans
wrap the actions (collect, count, noop write) the benchmark itself
triggers, so their self time is Spark execution seen from the driver.
"""

from __future__ import annotations

from common import Tracer

FORMATS = ("delta", "iceberg", "hudi")


def _count_parse(tracer: Tracer, _result, *_args, **_kw) -> None:
    # a parse nested in another parse span (map_glue_columns ->
    # parse_glue_data_type) is one column, counted once
    if not (tracer.parent_name or "").startswith("types."):
        tracer.count("types.columns_parsed")


def _count_schema(tracer: Tracer, _result, columns, *_a, **_kw) -> None:
    tracer.count("types.columns_parsed", len(columns))


def _count_spec(tracer: Tracer, *_a, **_kw) -> None:
    tracer.count("sources.formats.reader_specs")


def _count_register_table(tracer: Tracer, *_a, **_kw) -> None:
    if tracer.parent_name == "catalog.sql":
        tracer.count("catalog.lazy_registrations")


def _count_results(tracer: Tracer, results, *_a, **_kw) -> None:
    from datafusion_catalogprovider_glue_spark.errors import GlueError

    tracer.count("catalog.register_failures",
                 sum(isinstance(r, GlueError) for r in results))


def install_catalog(tracer: Tracer) -> None:
    """catalog, types, sources.formats and infoschema."""
    from datafusion_catalogprovider_glue_spark import infoschema, types
    from datafusion_catalogprovider_glue_spark.catalog import catalog as cat

    G = cat.GlueCatalog
    tracer.patch(G, "register_table", "catalog.register_table",
                 _count_register_table)
    tracer.patch(G, "register_tables", "catalog.register_tables",
                 _count_results)
    # register_all's failures are counted by its register_tables calls
    tracer.patch(G, "register_all", "catalog.register_all")
    tracer.patch(G, "sql", "catalog.sql")
    tracer.patch(G, "df", "catalog.df")
    tracer.patch(G, "_get_partitions", "catalog.get_partitions")
    # types: the catalog module holds its own references to the two
    # public entry points; both bindings are wrapped
    tracer.patch(types, "parse_glue_data_type", "types.parse", _count_parse)
    tracer.patch(cat, "parse_glue_data_type", "types.parse", _count_parse)
    tracer.patch(cat, "map_glue_columns_to_spark_schema", "types.schema",
                 _count_schema)
    tracer.patch(cat, "calculate_reader_spec", "sources.formats.reader_spec",
                 _count_spec)
    for fn in ("information_schema_tables", "information_schema_columns",
               "information_schema_partitions"):
        tracer.patch(infoschema, fn, "infoschema.build")


def install_sources(tracer: Tracer) -> None:
    """sources readers and writers of the format trio.  The catalog
    imports the readers at call time, so its table_type dispatch goes
    through the wrappers too."""
    from datafusion_catalogprovider_glue_spark.sources import (
        delta, delta_writer, hudi, hudi_writer, iceberg, iceberg_writer,
    )

    tracer.patch(delta, "read_delta", "sources.delta.read")
    tracer.patch(iceberg, "read_iceberg", "sources.iceberg.read")
    tracer.patch(hudi, "read_hudi", "sources.hudi.read")
    for mod, fmt, fns in (
        (delta_writer, "delta", ("append_delta", "merge_delta_dv",
                                 "checkpoint_delta")),
        (iceberg_writer, "iceberg", ("append_iceberg",
                                     "merge_iceberg_pos_delete",
                                     "compact_iceberg")),
        (hudi_writer, "hudi", ("append_hudi", "upsert_hudi",
                               "clean_hudi_file_slices")),
    ):
        for fn in fns:
            tracer.patch(mod, fn, f"sources.{fmt}.commit")


def layer_of(span_name: str) -> str:
    """Layer of a span: ``op.*`` is the benchmark's own operation span."""
    parts = span_name.split(".")
    if parts[0] == "sources" and len(parts) > 2:
        return ".".join(parts[:2])
    if parts[0] == "operators":
        return "operators"
    return parts[0]


def layer_self_times(tracer: Tracer) -> dict[str, float]:
    out: dict[str, float] = {}
    for name, secs in tracer.self_times().items():
        key = f"self.{layer_of(name)}_s"
        out[key] = out.get(key, 0.0) + secs
    return out


def common_layer_metrics(tracer: Tracer) -> dict:
    """Metrics every traced workload reports (zero where a layer did no
    work on that workload)."""
    out = layer_self_times(tracer)
    for name in ("types.columns_parsed", "sources.formats.reader_specs",
                 "catalog.lazy_registrations", "catalog.register_failures"):
        out[name] = tracer.counters.get(name, 0)
    for prefix, metric in (
        ("catalog.register", "catalog.register_s"),
        ("catalog.sql", "catalog.sql_plan_s"),
        ("types.", "types.parse_s"),
        ("infoschema.build", "infoschema.build_s"),
    ):
        out[metric] = tracer.totals(prefix)[0]
    for fmt in FORMATS:
        out[f"sources.{fmt}.read_plan_s"] = tracer.totals(f"sources.{fmt}.read")[0]
        out[f"sources.{fmt}.commit_s"] = tracer.totals(f"sources.{fmt}.commit")[0]
    out["spark.action_wall_s"] = tracer.totals("spark.")[0]
    return out


def glue_call_counters(client, before: dict) -> dict:
    """catalog.glue_calls and the per-API split over the timed loop."""
    out = {"catalog.glue_calls": 0}
    for api in ("GetDatabases", "GetTables", "GetTable", "GetPartitions"):
        n = client.calls.get(api, 0) - before.get(api, 0)
        out[f"catalog.glue_calls.{api}"] = n
    out["catalog.glue_calls"] = sum(
        v - before.get(k, 0) for k, v in client.calls.items()
    )
    return out
