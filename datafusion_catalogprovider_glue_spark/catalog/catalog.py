"""GlueCatalog — the Spark-native analog of the reference's
``GlueCatalogProvider`` (glue.rs:36-571).

Maps Glue catalog metadata (databases, tables, columns, partition
keys, SerDe/format, location) onto Spark: each Glue table becomes a
DataFrame registered as the temp view ``glue__<db>__<table>``, with
the schema either derived from Glue column types (default) or
inferred from the data — the reference's two
``TableRegistrationOptions`` (glue.rs:28-33).

Registration is metadata-only plumbing; execution is Spark SQL over
the views, exactly as the reference delegates execution to DataFusion
(SURVEY.md §0).  Per-table failures are collected, not fatal
(glue.rs:124-132).
"""

from __future__ import annotations

import enum
import hashlib
import os
import re
import tempfile
from dataclasses import dataclass, field
from typing import Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_catalogprovider_glue_spark.errors import (
    DeltaError,
    GlueError,
    NotImplementedYet,
    SparkError,
    wrap_error_with_table_info,
)
from datafusion_catalogprovider_glue_spark.sources.formats import calculate_reader_spec
from datafusion_catalogprovider_glue_spark.types import (
    map_glue_columns_to_spark_schema,
    parse_glue_data_type,
)

CATALOG_NAME = "glue"  # the reference registers itself as "glue" (demo.rs:66)
# session-catalog database of the tables behind explicit-partition views
PARTITIONED_TABLES_DB = "glue_spark_partitions"


def _quote_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_string(value: str) -> str:
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _backing_table_name(view: str, staging: bool = False) -> str:
    """The session-catalog table behind ``view``: a table name allows only
    letters, digits and ``_``, so other characters become ``_`` plus a hash.
    The staging table a registration fills before swapping it in always
    carries a hash, so it never names another view's table."""
    name = re.sub(r"\W", "_", view, flags=re.ASCII)
    if staging or name != view:
        salted = ("staging:" if staging else "") + view
        name += "_" + hashlib.sha1(salted.encode()).hexdigest()[:10]
    return f"{PARTITIONED_TABLES_DB}.{_quote_ident(name)}"


def _nano_timestamp_columns(location: str) -> set[str]:
    """Top-level TIMESTAMP(NANOS) columns in a parquet file/dir.

    Spark's parquet reader rejects nano timestamps outright
    ([PARQUET_TYPE_ILLEGAL]); the reference maps Glue ``timestamp`` to
    nanoseconds and its README documents the matching inference
    failure class (README.md:57-60).  We instead detect nanos from the
    footer at registration (driver-side metadata read, same cost class
    as the reference's infer path) and transparently rebuild them as
    µs-truncated timestamps — the truncation §1.3 already accepts.
    Best-effort: any inspection failure returns the empty set and the
    plain read path proceeds (and raises its own, clearer error)."""
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        path = location
        if os.path.isdir(location):
            parts = sorted(
                f for f in os.listdir(location) if f.endswith(".parquet")
            )
            if not parts:
                return set()
            path = os.path.join(location, parts[0])
        return {
            f.name
            for f in pq.read_schema(path)
            if pat.is_timestamp(f.type) and f.type.unit == "ns"
        }
    except Exception:
        return set()


class TableRegistrationOptions(enum.Enum):
    """glue.rs:28-33."""

    DERIVE_SCHEMA_FROM_GLUE_TABLE = "derive"
    INFER_SCHEMA_FROM_DATA = "infer"


@dataclass
class TableEntry:
    """Registry record backing information_schema (SURVEY.md §3 EP3)."""

    database: str
    table: str
    view: str
    schema: T.StructType
    format: str
    location: str
    options: dict[str, str] = field(default_factory=dict)
    partition_keys: list[tuple[str, str]] = field(default_factory=list)
    is_delta: bool = False
    # registered partition inventory ({"values": [...], "location": s})
    # — what information_schema.partitions projects (A13's inspection
    # symmetry); empty for unpartitioned / discovery-scanned tables
    partitions: list[dict] = field(default_factory=list)


RegistrationResult = Union[TableEntry, GlueError]


class GlueCatalog:
    """One catalog = one Glue account/region (glue.rs:36-40)."""

    def __init__(self, spark: SparkSession, glue_client, view_prefix: str = "glue__"):
        self.spark = spark
        self.client = glue_client
        self.view_prefix = view_prefix
        # {database: {table: TableEntry}} — the lazy per-database
        # schema-provider map of the reference (glue.rs:286-296) is a
        # plain nested dict here.
        self._registry: dict[str, dict[str, TableEntry]] = {}

    # -- naming -----------------------------------------------------------
    def view_name(self, database: str, table: str) -> str:
        return f"{self.view_prefix}{database}__{table}"

    # -- registration (A2-A7) ---------------------------------------------
    def register_table(
        self,
        database: str,
        table: str,
        options: TableRegistrationOptions = TableRegistrationOptions.DERIVE_SCHEMA_FROM_GLUE_TABLE,
        partition_expression: Optional[str] = None,
        version_id: Optional[str] = None,
    ) -> TableEntry:
        """A2: fetch ONE table (GetTable) and register it (glue.rs:55-90).

        ``partition_expression`` (A13d) pushes a Glue partition-filter
        expression into GetPartitions so the SERVICE prunes partitions
        before they ever reach the client — at 10⁵ partitions the
        full-pagination A13b path makes registration itself the
        bottleneck (100 pages of metadata to then discard client-side);
        the expression keeps both the payload and the page count
        proportional to the partitions actually wanted.  Only
        meaningful for tables with explicit Glue partitions; the
        registered table exposes exactly the matching partitions.

        ``version_id`` (A26, r10) registers a HISTORICAL table version
        via ``GetTableVersion`` — catalog-plane time travel: every
        UpdateTable creates a version holding the full old Table dict
        (schema AND location), so "what did this table look like
        before the migration" is one API call, with the historical
        schema/location registered exactly like a current table.
        Exactly ONE GetTableVersion round trip; the versioned view is
        registered under ``<view>__v<id>`` so current and historical
        versions coexist in one session."""
        if version_id is not None:
            response = self.client.get_table_version(
                DatabaseName=database, TableName=table, VersionId=version_id
            )
            tbl = dict(response["TableVersion"]["Table"])
            tbl.setdefault("DatabaseName", database)
            # suffix the registered name: current and historical
            # versions must not clobber each other's views
            tbl = {**tbl, "Name": f"{tbl.get('Name', table)}__v{version_id}"}
            return self._register_glue_table(
                tbl, options, partition_expression=partition_expression,
                glue_name=table,
            )
        response = self.client.get_table(DatabaseName=database, Name=table)
        return self._register_glue_table(
            response["Table"], options,
            partition_expression=partition_expression,
        )

    def register_tables(
        self,
        database: str,
        options: TableRegistrationOptions = TableRegistrationOptions.DERIVE_SCHEMA_FROM_GLUE_TABLE,
    ) -> list[RegistrationResult]:
        """A3: register every table of one database; per-table failures
        are collected, not raised (glue.rs:93-133).  Follows NextToken
        pagination — live Glue caps GetTables at 100 tables/page."""
        results: list[RegistrationResult] = []
        token: dict = {}
        while True:
            response = self.client.get_tables(DatabaseName=database, **token)
            for tbl in response["TableList"]:
                try:
                    results.append(self._register_glue_table(tbl, options))
                except GlueError as err:
                    results.append(
                        wrap_error_with_table_info(database, tbl.get("Name", "?"), err)
                    )
            next_token = response.get("NextToken")
            if not next_token:
                return results
            token = {"NextToken": next_token}

    def register_all(
        self,
        options: TableRegistrationOptions = TableRegistrationOptions.DERIVE_SCHEMA_FROM_GLUE_TABLE,
    ) -> list[RegistrationResult]:
        """A4: GetDatabases × GetTables — whole catalog (glue.rs:136-172),
        with NextToken pagination on the database listing too."""
        results: list[RegistrationResult] = []
        token: dict = {}
        while True:
            response = self.client.get_databases(**token)
            for db in response["DatabaseList"]:
                results.extend(self.register_tables(db["Name"], options))
            next_token = response.get("NextToken")
            if not next_token:
                return results
            token = {"NextToken": next_token}

    def _register_glue_table(
        self, table: dict, options: TableRegistrationOptions,
        partition_expression: Optional[str] = None,
        glue_name: Optional[str] = None,
    ) -> TableEntry:
        """A5 dispatch: delta vs listing (glue.rs:174-212).  ``glue_name``
        is the Glue table of a suffixed version, for GetPartitions."""
        database = table.get("DatabaseName")
        name = table.get("Name")
        if not database:
            raise SparkError("Failed to find database name in table")
        if not name:
            raise SparkError("Failed to find table name")
        params = table.get("Parameters") or {}
        table_type = params.get("table_type", "").lower()
        if table_type == "delta":  # glue.rs:191-196
            return self._register_delta_table(database, name, table)
        if table_type == "iceberg":
            # A5b (r10): Athena/Glue-managed Iceberg tables carry
            # Parameters.table_type=ICEBERG — the reference has no
            # answer (only delta dispatches, glue.rs:191); route to
            # the built-in metadata-chain reader the same way
            return self._register_iceberg_table(database, name, table)
        if table_type == "hudi":
            # A5c (r10): Hudi Glue sync writes table_type=hudi (plus a
            # .hoodie dir under the location) — timeline-replay reader
            return self._register_hudi_table(database, name, table)
        return self._register_listing_table(
            database, name, table, options,
            partition_expression=partition_expression,
            glue_name=glue_name,
        )

    def _register_iceberg_table(
        self, database: str, name: str, table: dict
    ) -> TableEntry:
        """A5b: load the Iceberg metadata chain as the table (the
        self-reading analog of _register_delta_table — the catalog
        never needs the iceberg-spark runtime JAR)."""
        from datafusion_catalogprovider_glue_spark.sources.iceberg import (
            read_iceberg,
        )

        location = self._table_location(database, name, table)
        df = read_iceberg(self.spark, location)
        return self._finish(
            database, name, df, T.StructType(df.schema), "iceberg",
            location, {}, [], False,
        )

    def _register_hudi_table(
        self, database: str, name: str, table: dict
    ) -> TableEntry:
        """A5c: load the Hudi timeline as the table (CoW snapshot
        read).  A MERGE-ON-READ table (deltacommits in the timeline)
        REFUSES unless the Glue parameters opt into the
        read-optimized view — silently serving base files only would
        drop every un-compacted log record, the worst failure mode;
        real Hudi Glue sync registers MoR tables as _ro/_rt pairs for
        exactly this reason.  Snapshot MoR reads need the record key
        and go through sources/hudi.read_hudi_mor directly."""
        from datafusion_catalogprovider_glue_spark.sources.hudi import (
            read_hudi,
        )

        location = self._table_location(database, name, table)
        params = table.get("Parameters") or {}
        tl = os.path.join(location, ".hoodie")
        has_deltacommits = os.path.isdir(tl) and any(
            f.endswith(".deltacommit") for f in os.listdir(tl)
        )
        if has_deltacommits and params.get(
            "hoodie.query.as.ro.table", ""
        ).lower() != "true":
            raise SparkError(
                f"hudi table {database}.{name} is MERGE-ON-READ "
                "(deltacommits present): a base-file-only read would "
                "silently drop un-compacted log records.  Register the "
                "read-optimized view with Parameters "
                "hoodie.query.as.ro.table=true, or use "
                "sources/hudi.read_hudi_mor(key_col) for snapshot "
                "semantics"
            )
        df = read_hudi(self.spark, location)
        return self._finish(
            database, name, df, T.StructType(df.schema), "hudi",
            location, {}, [], False,
        )

    def _register_delta_table(self, database: str, name: str, table: dict) -> TableEntry:
        """A6 (glue.rs:214-240): load the Delta log as the table.

        Prefers the delta-spark JVM package (full protocol support);
        falls back to the built-in minimal snapshot reader
        (sources/delta.py) when the package is absent — same behavior
        as the reference, which reads ``_delta_log`` itself via the
        deltalake crate rather than requiring a running Delta engine."""
        location = self._table_location(database, name, table)
        try:
            df = self.spark.read.format("delta").load(location)
        except Exception:
            from datafusion_catalogprovider_glue_spark.sources.delta import read_delta

            try:
                df = read_delta(self.spark, location)
            except DeltaError:
                raise
            except Exception as exc:
                raise DeltaError(
                    f"failed to load delta table at {location}: {exc}"
                ) from exc
        return self._finish(database, name, df, T.StructType(df.schema), "delta", location, {}, [], True)

    @staticmethod
    def _projection_partitions(
        params: dict,
        partition_keys: list[tuple[str, str]],
        location: str,
    ) -> list[dict]:
        """AWS Glue PARTITION PROJECTION (public Athena/Glue feature):
        when ``projection.enabled=true``, partition values are
        ENUMERATED from table parameters instead of calling
        GetPartitions — the layout teams use to skip partition
        registration entirely on date/shard-partitioned data lakes.

        Supported projection types (the common three): ``enum``
        (``projection.<k>.values``), ``integer``
        (``projection.<k>.range`` lo,hi + optional ``.interval``), and
        ``date`` (``projection.<k>.range`` + ``.format`` —
        ``yyyy-MM-dd`` — + optional ``.interval`` in days).  Locations
        come from ``storage.location.template`` with ``${k}``
        substitution, falling back to Hive-style ``<root>/k=v`` dirs.
        The cartesian product across keys is driver-side metadata,
        exactly like an explicit partition list."""
        if str(params.get("projection.enabled", "")).lower() != "true":
            return []
        from datetime import date, timedelta

        per_key: list[list[str]] = []
        for key, _ktype in partition_keys:
            ptype = params.get(f"projection.{key}.type")
            if ptype == "enum":
                # a stray comma adds no value, a repeated value no partition
                vals = list(dict.fromkeys(
                    v.strip()
                    for v in params[f"projection.{key}.values"].split(",")
                    if v.strip()
                ))
            elif ptype == "integer":
                lo, hi = (
                    int(x)
                    for x in params[f"projection.{key}.range"].split(",")
                )
                step = int(params.get(f"projection.{key}.interval", 1))
                vals = [str(v) for v in range(lo, hi + 1, step)]
            elif ptype == "date":
                fmt = params.get(f"projection.{key}.format", "yyyy-MM-dd")
                if fmt != "yyyy-MM-dd":
                    raise SparkError(
                        f"partition projection: unsupported date format "
                        f"{fmt!r} (supported: yyyy-MM-dd)"
                    )
                lo_s, hi_s = (
                    x.strip()
                    for x in params[f"projection.{key}.range"].split(",")
                )
                lo_d, hi_d = date.fromisoformat(lo_s), date.fromisoformat(hi_s)
                step_d = timedelta(
                    days=int(params.get(f"projection.{key}.interval", 1))
                )
                vals, cur = [], lo_d
                while cur <= hi_d:
                    vals.append(cur.isoformat())
                    cur += step_d
            else:
                raise SparkError(
                    f"partition projection: unsupported type {ptype!r} "
                    f"for key {key!r} (supported: enum, integer, date)"
                )
            per_key.append(vals)

        template = params.get("storage.location.template")
        combos: list[list[str]] = [[]]
        for vals in per_key:
            combos = [c + [v] for c in combos for v in vals]
        partitions = []
        for values in combos:
            if template:
                loc = template
                for (key, _), v in zip(partition_keys, values):
                    loc = loc.replace("${" + key + "}", v)
            else:
                loc = "/".join(
                    [location.rstrip("/")]
                    + [f"{k}={v}" for (k, _), v in zip(partition_keys, values)]
                )
            partitions.append(
                {"Values": values, "StorageDescriptor": {"Location": loc}}
            )
        return partitions

    def _get_partitions(
        self, database: str, name: str,
        expression: Optional[str] = None,
    ) -> list[dict]:
        """A13b: full GetPartitions pagination (live Glue caps pages at
        1000 partitions).  Clients without the call — or tables with no
        explicit partitions — fall back to Hive-style directory
        discovery.  ``expression`` (A13d) goes to the SERVICE verbatim
        (GetPartitions Expression=...), which filters before paging —
        the page budget scales with matching partitions, not the
        table's partition count."""
        getter = getattr(self.client, "get_partitions", None)
        if getter is None:
            return []
        extra = {"Expression": expression} if expression else {}
        parts: list[dict] = []
        token: dict = {}
        while True:
            try:
                response = getter(
                    DatabaseName=database, TableName=name, **extra, **token
                )
            except Exception:
                if expression:
                    # a user-supplied expression must fail LOUDLY — a
                    # silent [] here would register the table with no
                    # partitions and quietly serve zero rows
                    raise
                return []
            parts.extend(response.get("Partitions") or [])
            next_token = response.get("NextToken")
            if not next_token:
                return parts
            token = {"NextToken": next_token}

    def _register_explicit_partitions(
        self,
        database: str,
        name: str,
        sd: dict,
        spec,
        options: TableRegistrationOptions,
        partition_keys: list[tuple[str, str]],
        partitions: list[dict],
        location: str,
    ) -> TableEntry:
        """Register a table from its EXPLICIT Glue partition list, whose
        locations may be scattered anywhere (Hive's ALTER TABLE ADD
        PARTITION ... LOCATION layout, which directory discovery cannot
        see) and whose data files hold no partition columns.

        The partitions become one EXTERNAL partitioned session-catalog
        table per view, as Spark serves Hive and Glue metastore tables:
        the view is one file scan, and ``WHERE key = v`` lists only the
        matching locations (``listPartitionsByFilter``).  The table is
        filled under a staging name and swapped in whole, so a failed
        re-registration keeps the old view; DROP deletes no data."""
        seen = set()
        for p in partitions:  # validate everything before any DDL
            values = tuple(p.get("Values") or [])
            # Spark's partition specs refuse empty values, and a repeated
            # spec would silently replace the earlier one's location
            if len(values) != len(partition_keys) or "" in values or values in seen:
                raise GlueError(
                    f"partition {list(values)} of {database}.{name} needs one "
                    f"non-empty value for each of {len(partition_keys)} "
                    "partition keys, and a value list no other partition has"
                )
            seen.add(values)
            p_loc = (p.get("StorageDescriptor") or {}).get("Location")
            # a missing location is refused, not created by ADD PARTITION
            if not p_loc or not self._location_exists(p_loc):
                raise GlueError(
                    f"partition {list(values)} of {database}.{name} has no "
                    f"existing StorageDescriptor.Location ({p_loc!r})"
                )
        locations = [p["StorageDescriptor"]["Location"] for p in partitions]

        schema = T.StructType()
        if options is TableRegistrationOptions.DERIVE_SCHEMA_FROM_GLUE_TABLE:
            schema = map_glue_columns_to_spark_schema(sd.get("Columns") or [])
        if not schema.fields:
            reader = self.spark.read.format(spec.format).options(**spec.options)
            if options is TableRegistrationOptions.INFER_SCHEMA_FROM_DATA and (
                spec.format in ("csv", "json")
            ):
                reader = reader.option("inferSchema", "true")
            schema = reader.load(locations).schema
        # a data column named like a key keeps its slot (CSV maps columns
        # by position) under a placeholder the view drops, so the
        # partition list's value wins
        key_names = {k.lower() for k, _ in partition_keys}
        shadowed = {
            f.name: f"__glue_shadowed_{i}"
            for i, f in enumerate(schema.fields) if f.name.lower() in key_names
        }
        columns = T.StructType(
            [
                T.StructField(shadowed[f.name], f.dataType) if f.name in shadowed else f
                for f in schema.fields
            ]
            + [T.StructField(k, parse_glue_data_type(t)) for k, t in partition_keys]
        )

        view = self.view_name(database, name)
        table, staging = _backing_table_name(view), _backing_table_name(view, True)
        opts = ", ".join(
            f"{_sql_string(k)} = {_sql_string(v)}" for k, v in spec.options.items()
        )
        # its tables are EXTERNAL, so the database's directory stays empty;
        # it sits in the temp dir, not in the working directory
        db_dir = os.path.join(tempfile.gettempdir(), PARTITIONED_TABLES_DB)
        self.spark.sql(
            f"CREATE DATABASE IF NOT EXISTS {PARTITIONED_TABLES_DB} "
            f"LOCATION {_sql_string(db_dir)}"
        )
        self.spark.sql(f"DROP TABLE IF EXISTS {staging}")
        self.spark.sql(
            f"CREATE TABLE {staging} ({columns.toDDL()}) USING "
            + _quote_ident(spec.format)
            + (f" OPTIONS ({opts})" if opts else "")
            + " PARTITIONED BY ("
            + ", ".join(_quote_ident(k) for k, _ in partition_keys)
            + f") LOCATION {_sql_string(location)}"
        )
        self.spark.sql(f"ALTER TABLE {staging} ADD " + " ".join(
            "PARTITION (" + ", ".join(
                f"{_quote_ident(k)} = {_sql_string(v)}"
                for (k, _), v in zip(partition_keys, p["Values"])
            ) + f") LOCATION {_sql_string(loc)}"
            for p, loc in zip(partitions, locations)
        ))
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        self.spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
        df = self.spark.table(table).drop(*shadowed.values())
        entry = self._finish(
            database, name, df, T.StructType(df.schema), spec.format,
            location, dict(spec.options), partition_keys, False,
        )
        entry.partitions = [
            {"values": list(p["Values"]), "location": loc}
            for p, loc in zip(partitions, locations)
        ]
        return entry

    def _location_exists(self, location: str) -> bool:
        """Whether a partition location exists, asking a URI's Hadoop
        file system as ADD PARTITION does (it creates missing ones)."""
        if not re.match(r"[A-Za-z][\w+.-]*:", location):
            return os.path.exists(location)
        path = self.spark._jvm.org.apache.hadoop.fs.Path(location)
        fs = path.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs.exists(path)

    def _load_regex_table(
        self,
        database: str,
        name: str,
        sd: dict,
        spec,
        options: TableRegistrationOptions,
        location: str,
    ) -> TableEntry:
        """Hive RegexSerDe lowering: Spark has no regex datasource, so
        the table becomes a TEXT scan plus one ``regexp_extract`` per
        Glue column (capture group i+1 → column i, cast to the declared
        type) — all scan-stage codegen, zero Python.  Hive semantics:
        a line that does NOT match the pattern yields an all-NULL row
        (never an error), which the ``rlike`` guard reproduces.  Schema
        must come from the Glue columns (a regex carries no types to
        infer from)."""
        if options is not TableRegistrationOptions.DERIVE_SCHEMA_FROM_GLUE_TABLE:
            raise SparkError(
                "RegexSerDe tables require the Glue-schema mode: the "
                "pattern's capture groups carry no types to infer"
            )
        columns = sd.get("Columns") or []
        if not columns:
            raise GlueError(
                f"RegexSerDe table {database}.{name} has no columns"
            )
        # Hive RegexSerDe matches the FULL line (Pattern.matches), while
        # rlike/regexp_extract do substring search — anchor as a
        # non-capturing group so group indices 1..N are unshifted and an
        # unanchored input.regex can't parse a line Hive would NULL out.
        pattern = "^(?:" + spec.options["input.regex"] + ")$"
        schema = map_glue_columns_to_spark_schema(columns)
        raw = self.spark.read.text(location)
        matched = F.col("value").rlike(pattern)
        cols = [
            F.when(
                matched,
                F.regexp_extract(F.col("value"), pattern, i + 1),
            )
            .otherwise(F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for i, f in enumerate(schema.fields)
        ]
        df = raw.select(*cols)
        return self._finish(
            database,
            name,
            df,
            T.StructType(df.schema),
            "regex",
            location,
            dict(spec.options),
            [],
            False,
        )

    @staticmethod
    def _location_is_ion_binary(location: str) -> bool:
        """True when the table's data files carry the binary Ion
        version marker — checked on ONE file (a table mixing text and
        binary Ion is malformed either way).  Object-store locations
        skip the probe (no cheap peek): they keep the reference's
        JSON approximation."""
        from datafusion_catalogprovider_glue_spark.sources.ion_binary import (
            is_ion_binary_file,
        )

        if "://" in location or not os.path.isdir(location):
            return False
        for n in sorted(os.listdir(location)):
            if n.startswith(("_", ".")):
                continue
            try:
                return is_ion_binary_file(os.path.join(location, n))
            except OSError:
                return False
        return False

    def _load_ion_binary_table(
        self,
        database: str,
        name: str,
        sd: dict,
        options: TableRegistrationOptions,
        location: str,
    ) -> TableEntry:
        """BINARY Ion lowering (beyond the reference's envelope — its
        JSON approximation, glue.rs:421-425, breaks on binary Ion in
        both engines): decode executor-side via the pure-Python codec
        (sources/ion_binary.py, the avro_fallback pattern).  Schema
        from the Glue columns in derive mode; in infer mode, sampled
        from the first file's decoded rows (string/long/double/boolean
        from the python values, the same subset the JSON sampler
        yields)."""
        from datafusion_catalogprovider_glue_spark.sources.ion_binary import (
            decode_ion_binary,
            read_ion_binary,
        )

        if options is TableRegistrationOptions.DERIVE_SCHEMA_FROM_GLUE_TABLE:
            columns = sd.get("Columns") or []
            if not columns:
                raise GlueError(
                    f"binary Ion table {database}.{name} has no columns"
                )
            schema = map_glue_columns_to_spark_schema(columns)
        else:
            first = next(
                os.path.join(location, n)
                for n in sorted(os.listdir(location))
                if not n.startswith(("_", "."))
            )
            with open(first, "rb") as fh:
                sample = decode_ion_binary(fh.read())
            py_to_spark = {
                str: T.StringType(), bool: T.BooleanType(),
                int: T.LongType(), float: T.DoubleType(),
            }
            fields: dict[str, T.DataType] = {}
            for row in sample:
                for k, v in row.items():
                    if k not in fields and v is not None:
                        fields[k] = py_to_spark.get(type(v), T.StringType())
            schema = T.StructType(
                [T.StructField(k, t, True) for k, t in fields.items()]
            )
        df = read_ion_binary(self.spark, location, schema)
        return self._finish(
            database,
            name,
            df,
            T.StructType(df.schema),
            "ion-binary",
            location,
            {},
            [],
            False,
        )

    def _register_listing_table(
        self,
        database: str,
        name: str,
        table: dict,
        options: TableRegistrationOptions,
        partition_expression: Optional[str] = None,
        glue_name: Optional[str] = None,
    ) -> TableEntry:
        """A7 (glue.rs:243-274): format dispatch + schema mode + load."""
        sd = self._storage_descriptor(database, name, table)
        location = self._table_location(database, name, table)
        spec = calculate_reader_spec(sd)

        if spec.format == "regex":
            return self._load_regex_table(
                database, name, sd, spec, options, location
            )

        if spec.ion_fallback and self._location_is_ion_binary(location):
            # BINARY Ion (version marker E0 01 00 EA): the JSON
            # approximation (glue.rs:421-425) would fail on these —
            # route to the pure-Python binary decoder instead
            return self._load_ion_binary_table(
                database, name, sd, options, location
            )

        reader = self.spark.read.format(spec.format).options(**spec.options)
        partition_keys = [
            (k["Name"], k["Type"]) for k in (table.get("PartitionKeys") or [])
        ]
        if partition_keys:
            # partition PROJECTION first: projection-enabled tables by
            # definition have no registered partitions — the parameter
            # block IS the partition list (skipping GetPartitions is
            # the feature's point)
            projected = self._projection_partitions(
                table.get("Parameters") or {}, partition_keys, location
            )
            if projected:
                # projection enumerates the CONFIGURED value space, not
                # what exists; Athena semantics read missing projected
                # partitions as empty, so drop absent locations
                projected = [
                    p
                    for p in projected
                    if self._location_exists(p["StorageDescriptor"]["Location"])
                ]
            if projected:
                return self._register_explicit_partitions(
                    database, name, sd, spec, options, partition_keys,
                    projected, location,
                )
            # explicit Glue partitions next: real partitioned Glue
            # tables frequently carry per-partition StorageDescriptors
            # whose locations are NOT Hive-style dirs under one root —
            # GetPartitions is the source of truth when it returns any
            explicit = self._get_partitions(
                database, glue_name or name, expression=partition_expression
            )
            if explicit:
                return self._register_explicit_partitions(
                    database, name, sd, spec, options, partition_keys,
                    explicit, location,
                )
            if partition_expression:
                raise SparkError(
                    f"partition expression {partition_expression!r} on "
                    f"{database}.{name} matched no partitions (or the "
                    "table has no explicit Glue partitions) — refusing "
                    "a silently empty registration"
                )
            # Hive-style partition dirs: Spark discovers them; basePath
            # keeps the partition columns when loading the root
            # (reference: table_partition_cols, glue.rs:433-447)
            reader = reader.option("basePath", location)

        nano_cols = (
            _nano_timestamp_columns(location) if spec.format == "parquet" else set()
        )
        if nano_cols:
            # read nanos as raw int64 (legacy knob), rebuild below
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

        if options is TableRegistrationOptions.DERIVE_SCHEMA_FROM_GLUE_TABLE:
            columns = sd.get("Columns") or []
            schema = map_glue_columns_to_spark_schema(columns)
            if nano_cols and schema.fields:
                schema = T.StructType(
                    [
                        T.StructField(f.name, T.LongType(), True)
                        if f.name in nano_cols
                        else f
                        for f in schema.fields
                    ]
                )
            if schema.fields:
                reader = reader.schema(schema)
        elif spec.format in ("csv", "json"):
            # InferSchemaFromData (glue.rs:266): sample the files.
            # Parquet/avro/delta are self-describing.
            reader = reader.option("inferSchema", "true")

        try:
            df = reader.load(location)
        except Exception as exc:
            if spec.format == "avro":
                # spark-avro is an external JVM package; when absent,
                # fall back to the built-in pure-Python container
                # reader (sources/avro_fallback.py) — same pattern as
                # the Delta fallback.
                from datafusion_catalogprovider_glue_spark.sources.avro_fallback import (
                    read_avro_fallback,
                    schema_from_avro_file,
                )

                columns = sd.get("Columns") or []
                if options is TableRegistrationOptions.DERIVE_SCHEMA_FROM_GLUE_TABLE and columns:
                    fallback_schema = map_glue_columns_to_spark_schema(columns)
                else:
                    fallback_schema = schema_from_avro_file(location)
                df = read_avro_fallback(self.spark, location, fallback_schema)
            else:
                raise SparkError(
                    f"failed to read {spec.format} at {location}: {exc}"
                ) from exc

        # rebuild nano-timestamp columns as µs-truncated TIMESTAMP_NTZ
        # (ns→µs is the deviation §1.3 already accepts, glue.rs:466;
        # NTZ matches the tz-naive reference mapping, and the epoch
        # arithmetic is session-timezone-independent)
        for c in sorted(nano_cols):
            if c in df.columns:
                df = df.withColumn(
                    c,
                    F.expr(
                        f"timestampadd(MICROSECOND, `{c}` div 1000, "
                        f"TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                    ),
                )

        # partition columns come back from directory discovery; cast
        # them to the Glue-declared types (glue.rs:433-442)
        for pk_name, pk_type in partition_keys:
            if pk_name in df.columns:
                df = df.withColumn(pk_name, F.col(pk_name).cast(parse_glue_data_type(pk_type)))

        return self._finish(
            database,
            name,
            df,
            T.StructType(df.schema),
            spec.format,
            location,
            dict(spec.options),
            partition_keys,
            False,
        )

    def _finish(
        self,
        database: str,
        name: str,
        df: DataFrame,
        schema: T.StructType,
        fmt: str,
        location: str,
        options: dict[str, str],
        partition_keys: list[tuple[str, str]],
        is_delta: bool,
    ) -> TableEntry:
        view = self.view_name(database, name)
        df.createOrReplaceTempView(view)
        entry = TableEntry(
            database, name, view, schema, fmt, location, options, partition_keys, is_delta
        )
        self._registry.setdefault(database, {})[name] = entry
        return entry

    # -- accessors / guards (A17-A19) --------------------------------------
    def database_names(self) -> list[str]:
        """A17 ``schema_names`` (glue.rs:548-556)."""
        return sorted(self._registry)

    def table_names(self, database: str) -> list[str]:
        return sorted(self._registry.get(database, {}))

    def entries(self) -> list[TableEntry]:
        return [
            self._registry[db][t]
            for db in sorted(self._registry)
            for t in sorted(self._registry[db])
        ]

    def table(self, database: str, name: str) -> Optional[TableEntry]:
        return self._registry.get(database, {}).get(name)

    def df(self, database: str, name: str) -> DataFrame:
        """LAZY table resolution (the reference's analysis-time
        ``schema()`` lookup, glue.rs:557-562): an unregistered table is
        fetched with exactly ONE GetTable on first reference instead of
        requiring an up-front ``register_all()``.  On a 10k-table Glue
        catalog that is the difference between one round trip for the
        one table a query touches and 10k GetTable+read registrations
        before the first query runs."""
        entry = self.table(database, name)
        if entry is None:
            entry = self.register_table(database, name)
        return self.spark.table(entry.view)

    # view names look like {prefix}{db}__{table}; used by sql() to map
    # an unresolved relation back to the Glue coordinates to fetch
    def _parse_view_name(self, view: str) -> Optional[tuple[str, str]]:
        if not view.startswith(self.view_prefix):
            return None
        rest = view[len(self.view_prefix):]
        db, sep, table = rest.partition("__")
        return (db, table) if sep and db and table else None

    # identifier atom for the dotted-reference rewrite: a plain SQL
    # identifier or a backquoted one
    _IDENT_RE = r"(?:[A-Za-z_][A-Za-z0-9_]*|`[^`]+`)"

    def _rewrite_three_part(self, text: str) -> str:
        """Rewrite ``glue.db.table`` THREE-PART identifiers (how the
        reference's users address tables, demo.rs:68-90) onto the
        ``{prefix}db__table`` view namespace before analysis.  Only
        segments OUTSIDE string literals ('…' with '' escapes AND
        Spark's default "…" double-quoted literal form) and outside
        ``--``/``/* */`` comments rewrite, and only references
        leading with this catalog's name — other catalogs' dotted
        names pass through to Spark untouched.  Backquoted parts
        unquote, and a rewritten name whose segments were quoted is
        RE-backquoted (``glue.`my db`.`t-1``` must stay one legal
        identifier after the rewrite).  The rewrite is purely
        textual; resolution/registration stays with sql()'s lazy
        loop, so the one-GetTable budget holds.  Known textual
        limit: a struct access through a table alias literally named
        ``glue`` (``glue.col.field``) is indistinguishable from a
        three-part reference without a full parse."""
        import re

        pat = re.compile(
            rf"\b{CATALOG_NAME}\.({self._IDENT_RE})\.({self._IDENT_RE})"
        )

        def _sub(m: "re.Match[str]") -> str:
            quoted = any(g.startswith("`") for g in m.groups())
            db, table = (g.strip("`") for g in m.groups())
            name = self.view_name(db, table)
            return f"`{name}`" if quoted else name

        # split out every literal/comment span; only even (code)
        # segments rewrite
        mask = (
            r"('(?:[^']|'')*'"          # '…' with '' escape
            r"|\"(?:[^\"]|\"\")*\""     # "…" literal (default parser mode)
            r"|--[^\n]*"                # line comment
            r"|/\*.*?\*/)"              # block comment
        )
        parts = re.split(mask, text, flags=re.S)
        return "".join(
            p if i % 2 else pat.sub(_sub, p) for i, p in enumerate(parts)
        )

    def sql(self, text: str) -> DataFrame:
        """EP2: the SQL entry over registered views (demo.rs:118), with
        THREE-PART IDENTIFIER support (``glue.db.table`` rewrites onto
        the view namespace — the exact spelling the reference's users
        write, demo.rs:68-90) and LAZY resolution: a query referencing
        an unregistered table triggers one GetTable registration and
        re-analysis — the Spark-side equivalent of the reference
        resolving tables at SQL-analysis time instead of eagerly.  Each
        retry resolves one missing relation; the loop is bounded by the
        number of distinct relations a query can reference."""
        from pyspark.errors import AnalysisException

        text = self._rewrite_three_part(text)
        for _ in range(64):
            try:
                return self.spark.sql(text)
            except AnalysisException as exc:
                if exc.getErrorClass() != "TABLE_OR_VIEW_NOT_FOUND":
                    raise
                missing = (exc.getMessageParameters() or {}).get(
                    "relationName", ""
                ).strip("`")
                coords = self._parse_view_name(missing)
                if coords is None or self.table(*coords) is not None:
                    raise  # not ours to resolve, or resolution looped
                self.register_table(*coords)
        raise SparkError("sql(): lazy-resolution retry bound exceeded")

    def register_schema(self, name: str) -> None:
        """A18: deliberately unsupported — this catalog is read-only,
        like the reference's ``unimplemented!()`` (glue.rs:564-570)."""
        raise NotImplementedYet("register_schema is not supported: read-only catalog")

    # -- guards -------------------------------------------------------------
    @staticmethod
    def _storage_descriptor(database: str, name: str, table: dict) -> dict:
        sd = table.get("StorageDescriptor")
        if not sd:
            raise SparkError(f"Failed to find storage descriptor for {database}.{name}")
        return sd

    def _table_location(self, database: str, name: str, table: dict) -> str:
        sd = self._storage_descriptor(database, name, table)
        location = sd.get("Location")
        if not location:
            raise SparkError(f"Failed to find table location for {database}.{name}")
        return location

    # -- smoke runner (A23, demo.rs:92-123) ----------------------------------
    def sample_all(self, limit: int = 10) -> dict[str, Union[list, GlueError]]:
        """Run ``SELECT * LIMIT n`` on every registered view, collecting
        per-table failures like the reference demo."""
        out: dict[str, Union[list, GlueError]] = {}
        for entry in self.entries():
            key = f"{entry.database}.{entry.table}"
            try:
                out[key] = self.spark.table(entry.view).limit(limit).collect()
            except Exception as exc:
                out[key] = SparkError(str(exc))
        return out
