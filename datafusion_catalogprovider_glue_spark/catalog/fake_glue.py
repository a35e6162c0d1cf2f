"""Local, AWS-free stand-in for the Glue Data Catalog API.

Serves Glue-API-shaped dicts (``GetDatabases`` / ``GetTables`` /
``GetTable``) from an in-memory fixture, so the catalog layer is fully
testable without AWS — the reference's own CI never touches AWS either
(SURVEY.md §5).  The real path is a thin boto3 client behind the same
three methods (``boto3.client("glue")`` responses are exactly this
shape), gated behind an import-try.
"""

from __future__ import annotations

import os
from typing import Optional

from datafusion_catalogprovider_glue_spark.errors import AwsError

# Glue type strings for the driver's testdata tables (FIXTURES.md §1).
TESTDATA_GLUE_COLUMNS: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}

_PARQUET_SD = {
    "InputFormat": "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
    "OutputFormat": "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat",
    "SerdeInfo": {
        "SerializationLibrary": "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe"
    },
}


def parquet_table(
    database: str,
    name: str,
    location: str,
    columns: list[tuple[str, str]],
    partition_keys: Optional[list[tuple[str, str]]] = None,
    parameters: Optional[dict[str, str]] = None,
) -> dict:
    """Build a Glue ``Table`` dict for a parquet table."""
    return {
        "DatabaseName": database,
        "Name": name,
        "Parameters": dict(parameters or {}),
        "PartitionKeys": [
            {"Name": n, "Type": t} for n, t in (partition_keys or [])
        ],
        "StorageDescriptor": {
            **_PARQUET_SD,
            "Columns": [{"Name": n, "Type": t} for n, t in columns],
            "Location": location,
        },
    }


class FakeGlueClient:
    """Glue API double: ``{db: {table: TableDict}}`` behind the three
    calls the reference makes (glue.rs:70-75, 105-110, 146-157), plus
    ``GetPartitions`` (the call real partitioned Glue tables need when
    their partitions carry explicit per-partition StorageDescriptors
    rather than Hive-style directories under one root)."""

    def __init__(
        self,
        databases: dict[str, dict[str, dict]],
        page_size: int = 0,
        partitions: Optional[dict[tuple[str, str], list[dict]]] = None,
        column_stats: Optional[dict[tuple[str, str], dict]] = None,
    ):
        self._databases = databases
        # page_size > 0 emulates live Glue's NextToken pagination
        self._page_size = page_size
        # (db, table) -> [{"Values": [...], "StorageDescriptor": {...}}]
        self._partitions = dict(partitions or {})
        # (db, table) -> {column: ColumnStatistics item} — what a real
        # catalog records after `aws glue start-column-statistics-...`
        self._column_stats = dict(column_stats or {})
        # (db, table) -> [Table dict per version, oldest first] — grown
        # by update_table; tables never updated have one implicit
        # version (the current dict)
        self._versions: dict[tuple[str, str], list[dict]] = {}
        # per-API call counts — lets tests pin HOW MANY Glue round
        # trips a code path costs (lazy resolution: exactly one
        # GetTable; register_all: databases x tables)
        self.calls: dict[str, int] = {}

    def _paginate(self, items: list, key: str, token) -> dict:
        start = int(token) if token is not None else 0
        if self._page_size <= 0:
            return {key: items[start:]}
        page = items[start : start + self._page_size]
        out = {key: page}
        if start + self._page_size < len(items):
            out["NextToken"] = str(start + self._page_size)
        return out

    def _count(self, api: str) -> None:
        self.calls[api] = self.calls.get(api, 0) + 1

    def get_databases(self, NextToken=None) -> dict:
        self._count("GetDatabases")
        items = [{"Name": db} for db in sorted(self._databases)]
        return self._paginate(items, "DatabaseList", NextToken)

    def get_tables(self, DatabaseName: str, NextToken=None) -> dict:
        self._count("GetTables")
        try:
            tables = self._databases[DatabaseName]
        except KeyError:
            raise AwsError(f"EntityNotFoundException: database {DatabaseName}")
        items = [tables[t] for t in sorted(tables)]
        return self._paginate(items, "TableList", NextToken)

    def get_table(self, DatabaseName: str, Name: str) -> dict:
        self._count("GetTable")
        try:
            return {"Table": self._databases[DatabaseName][Name]}
        except KeyError:
            raise AwsError(
                f"EntityNotFoundException: table {DatabaseName}.{Name}"
            )

    # -- table VERSION history (the live API's UpdateTable /
    # -- GetTableVersions / GetTableVersion trio: every UpdateTable
    # -- creates a new version; old versions keep their full Table
    # -- dict — schema AND location — so catalog-plane time travel can
    # -- register what a table looked like before a migration)

    def update_table(self, DatabaseName: str, TableInput: dict) -> dict:
        self._count("UpdateTable")
        name = TableInput.get("Name")
        if DatabaseName not in self._databases or (
            name not in self._databases[DatabaseName]
        ):
            raise AwsError(
                f"EntityNotFoundException: table {DatabaseName}.{name}"
            )
        old = self._databases[DatabaseName][name]
        hist = self._versions.setdefault((DatabaseName, name), [old])
        new = {**TableInput, "DatabaseName": DatabaseName}
        hist.append(new)
        self._databases[DatabaseName][name] = new
        return {}

    def get_table_versions(
        self, DatabaseName: str, TableName: str, NextToken=None
    ) -> dict:
        """Ascending VersionId order ("1" = oldest), moto-compatible."""
        self._count("GetTableVersions")
        hist = self._version_history(DatabaseName, TableName)
        items = [
            {"VersionId": str(i + 1), "Table": t}
            for i, t in enumerate(hist)
        ]
        return self._paginate(items, "TableVersions", NextToken)

    def get_table_version(
        self, DatabaseName: str, TableName: str, VersionId: str
    ) -> dict:
        self._count("GetTableVersion")
        hist = self._version_history(DatabaseName, TableName)
        idx = int(VersionId) - 1
        if not (0 <= idx < len(hist)):
            raise AwsError(
                f"EntityNotFoundException: version {VersionId} of "
                f"{DatabaseName}.{TableName}"
            )
        return {
            "TableVersion": {"VersionId": VersionId, "Table": hist[idx]}
        }

    def _version_history(self, db: str, name: str) -> list[dict]:
        if db not in self._databases or name not in self._databases[db]:
            raise AwsError(f"EntityNotFoundException: table {db}.{name}")
        return self._versions.get((db, name), [self._databases[db][name]])

    def get_partitions(
        self, DatabaseName: str, TableName: str, NextToken=None,
        Expression=None,
    ) -> dict:
        """Glue GetPartitions shape: each partition carries its Values
        (one per PartitionKey, in key order) and its own
        StorageDescriptor whose Location may live ANYWHERE — not
        necessarily under the table root.  Paginated like the other
        calls.

        ``Expression`` is the live API's SERVER-SIDE partition filter
        (the documented subset: =, <>, <, <=, >, >=, LIKE, IN,
        BETWEEN, IS [NOT] NULL, AND/OR/NOT, parentheses; string
        literals single-quoted, ≤2048 chars) — evaluated here against
        each partition's typed Values BEFORE pagination, exactly like
        live Glue, so a selective filter shrinks both the result set
        and the page count the client pays."""
        self._count("GetPartitions")
        if DatabaseName not in self._databases or (
            TableName not in self._databases[DatabaseName]
        ):
            raise AwsError(
                f"EntityNotFoundException: table {DatabaseName}.{TableName}"
            )
        items = self._partitions.get((DatabaseName, TableName), [])
        if Expression:
            if len(Expression) > 2048:
                raise AwsError(
                    "InvalidInputException: Expression exceeds 2048 chars"
                )
            tbl = self._databases[DatabaseName][TableName]
            keys = [
                (k["Name"], k.get("Type", "string"))
                for k in tbl.get("PartitionKeys") or []
            ]
            try:
                pred = parse_partition_expression(Expression)
            except ValueError as exc:
                raise AwsError(f"InvalidInputException: {exc}") from exc
            items = [
                p for p in items
                if pred(dict_from_values(keys, p.get("Values") or []))
            ]
        return self._paginate(items, "Partitions", NextToken)

    def get_column_statistics_for_table(
        self, DatabaseName: str, TableName: str, ColumnNames: list
    ) -> dict:
        """Glue ``GetColumnStatisticsForTable``: per requested column
        either a ColumnStatistics item (ColumnName + StatisticsData
        keyed by Type: LONG/DOUBLE/... with NumberOfNulls /
        NumberOfDistinctValues / Minimum/MaximumValue) or an entry in
        ``Errors`` (ColumnStatisticsNotFound) — real Glue only has
        stats for columns an analysis run covered.  Max 100 columns
        per call, like the live API."""
        self._count("GetColumnStatisticsForTable")
        if len(ColumnNames) > 100:
            raise AwsError("ValidationException: at most 100 ColumnNames")
        if DatabaseName not in self._databases or (
            TableName not in self._databases[DatabaseName]
        ):
            raise AwsError(
                f"EntityNotFoundException: table {DatabaseName}.{TableName}"
            )
        have = self._column_stats.get((DatabaseName, TableName), {})
        out, errors = [], []
        for name in ColumnNames:
            if name in have:
                out.append(have[name])
            else:
                errors.append(
                    {
                        "ColumnName": name,
                        "Error": {
                            "ErrorCode": "ColumnStatisticsNotFound",
                            "ErrorMessage": f"no statistics for {name}",
                        },
                    }
                )
        return {"ColumnStatisticsList": out, "Errors": errors}


# ---------------------------------------------------------------------------
# GetPartitions Expression — the live API's server-side partition filter
# ---------------------------------------------------------------------------

_NUMERIC_GLUE_TYPES = {
    "tinyint", "smallint", "int", "integer", "bigint", "long",
    "float", "double",
}


def dict_from_values(
    keys: list[tuple[str, str]], values: list
) -> dict[str, object]:
    """Partition Values (strings, in PartitionKey order) → {name:
    typed value} for expression evaluation.  Numeric key types compare
    numerically (live Glue does the same — '9' < '10' for an int key);
    Hive's null sentinel maps to None so IS NULL works."""
    out: dict[str, object] = {}
    for (name, gtype), raw in zip(keys, values):
        base = gtype.split("(")[0].strip().lower()
        if raw is None or raw == "__HIVE_DEFAULT_PARTITION__":
            out[name.lower()] = None
        elif base in _NUMERIC_GLUE_TYPES or base.startswith("decimal"):
            try:
                out[name.lower()] = float(raw)
            except ValueError:
                out[name.lower()] = raw
        else:
            out[name.lower()] = raw
    return out


def _tokenize_expression(s: str) -> list[tuple[str, str]]:
    """(kind, text) tokens: op, lparen, rparen, comma, str, num, word."""
    toks: list[tuple[str, str]] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            i += 1
        elif c == "'":
            j = i + 1
            buf = []
            while j < n:
                if s[j] == "'" and j + 1 < n and s[j + 1] == "'":
                    buf.append("'")  # '' escapes a quote
                    j += 2
                elif s[j] == "'":
                    break
                else:
                    buf.append(s[j])
                    j += 1
            else:
                raise ValueError("unterminated string literal")
            toks.append(("str", "".join(buf)))
            i = j + 1
        elif c in "()":
            toks.append(("lparen" if c == "(" else "rparen", c))
            i += 1
        elif c == ",":
            toks.append(("comma", c))
            i += 1
        elif s[i:i + 2] in ("<>", "<=", ">=", "!="):
            toks.append(("op", "<>" if s[i:i + 2] == "!=" else s[i:i + 2]))
            i += 2
        elif c in "=<>":
            toks.append(("op", c))
            i += 1
        elif c.isdigit() or (
            c in "+-." and i + 1 < n and (s[i + 1].isdigit() or s[i + 1] == ".")
        ):
            j = i + 1
            while j < n and (s[j].isdigit() or s[j] in ".eE+-"):
                # stop a trailing +/- that isn't an exponent sign
                if s[j] in "+-" and s[j - 1] not in "eE":
                    break
                j += 1
            toks.append(("num", s[i:j]))
            i = j
        elif c.isalpha() or c == "_" or c == "`":
            if c == "`":  # backtick-quoted identifier
                j = s.index("`", i + 1)
                toks.append(("word", s[i + 1:j]))
                i = j + 1
            else:
                j = i + 1
                while j < n and (s[j].isalnum() or s[j] in "_."):
                    j += 1
                toks.append(("word", s[i:j]))
                i = j
        else:
            raise ValueError(f"unexpected character {c!r} at {i}")
    return toks


def parse_partition_expression(expression: str):
    """Parse the Glue GetPartitions filter grammar into a predicate
    ``row_dict -> bool`` (row keys lower-cased; typed per
    dict_from_values).  Grammar (the publicly documented subset):

        expr     := and_term (OR and_term)*
        and_term := not_term (AND not_term)*
        not_term := NOT not_term | '(' expr ')' | predicate
        predicate:= col (=|<>|<|<=|>|>=) literal
                  | col [NOT] LIKE 'pattern'    (%, _ wildcards)
                  | col [NOT] IN '(' literal (',' literal)* ')'
                  | col [NOT] BETWEEN literal AND literal
                  | col IS [NOT] NULL

    Comparisons against a NULL partition value are three-valued-false,
    matching live Glue/Hive semantics."""
    import re as _re

    toks = _tokenize_expression(expression)
    pos = [0]

    def peek(k: int = 0):
        p = pos[0] + k
        return toks[p] if p < len(toks) else ("eof", "")

    def take(kind=None, text=None):
        t = peek()
        if kind and t[0] != kind:
            raise ValueError(f"expected {kind}, got {t}")
        if text and t[1].upper() != text:
            raise ValueError(f"expected {text}, got {t}")
        pos[0] += 1
        return t

    def literal():
        t = take()
        if t[0] == "str":
            return t[1]
        if t[0] == "num":
            return float(t[1])
        raise ValueError(f"expected literal, got {t}")

    def coerce(col_val, lit):
        # a numeric literal against a string-typed key falls back to
        # string comparison of its original text (live Glue treats
        # unquoted numbers on string keys as strings)
        if isinstance(col_val, float) and isinstance(lit, str):
            try:
                return col_val, float(lit)
            except ValueError:
                return str(col_val), lit
        if isinstance(col_val, str) and isinstance(lit, float):
            return col_val, _format_num(lit)
        return col_val, lit

    def predicate():
        if peek()[0] == "lparen":
            take("lparen")
            inner = expr()
            take("rparen")
            return inner
        if peek()[0] == "word" and peek()[1].upper() == "NOT":
            take()
            inner = predicate()
            return lambda row: not inner(row)
        col = take("word")[1].lower()
        t = peek()
        negate = False
        if t[0] == "word" and t[1].upper() == "NOT":
            take()
            negate = True
            t = peek()
        if t[0] == "op":
            op = take("op")[1]
            lit = literal()

            def cmp(row, op=op, lit=lit, col=col):
                v = row.get(col)
                if v is None:
                    return False
                v, z = coerce(v, lit)
                return {
                    "=": v == z, "<>": v != z, "<": v < z,
                    "<=": v <= z, ">": v > z, ">=": v >= z,
                }[op]

            base = cmp
        elif t[0] == "word" and t[1].upper() == "LIKE":
            take()
            pat = take("str")[1]
            rx = _re.compile(
                "^" + _re.escape(pat).replace("%", ".*").replace("_", ".")
                + "$"
            )
            base = lambda row, rx=rx, col=col: (  # noqa: E731
                row.get(col) is not None and bool(rx.match(str(row[col])))
            )
        elif t[0] == "word" and t[1].upper() == "IN":
            take()
            take("lparen")
            lits = [literal()]
            while peek()[0] == "comma":
                take("comma")
                lits.append(literal())
            take("rparen")

            def inset(row, lits=lits, col=col):
                v = row.get(col)
                if v is None:
                    return False
                return any(coerce(v, z)[0] == coerce(v, z)[1] for z in lits)

            base = inset
        elif t[0] == "word" and t[1].upper() == "BETWEEN":
            take()
            lo = literal()
            take("word", "AND")
            hi = literal()

            def betw(row, lo=lo, hi=hi, col=col):
                v = row.get(col)
                if v is None:
                    return False
                v1, lo2 = coerce(v, lo)
                v2, hi2 = coerce(v, hi)
                return lo2 <= v1 and v2 <= hi2

            base = betw
        elif t[0] == "word" and t[1].upper() == "IS":
            take()
            isnot = False
            if peek()[0] == "word" and peek()[1].upper() == "NOT":
                take()
                isnot = True
            take("word", "NULL")
            base = lambda row, isnot=isnot, col=col: (  # noqa: E731
                (row.get(col) is not None) if isnot else (row.get(col) is None)
            )
        else:
            raise ValueError(f"expected comparison after column, got {t}")
        if negate:
            return lambda row, base=base: not base(row)
        return base

    def not_term():
        if peek()[0] == "word" and peek()[1].upper() == "NOT":
            take()
            inner = not_term()
            return lambda row: not inner(row)
        return predicate()

    def and_term():
        parts = [not_term()]
        while peek()[0] == "word" and peek()[1].upper() == "AND":
            take()
            parts.append(not_term())
        return lambda row, parts=parts: all(p(row) for p in parts)

    def expr():
        parts = [and_term()]
        while peek()[0] == "word" and peek()[1].upper() == "OR":
            take()
            parts.append(and_term())
        return lambda row, parts=parts: any(p(row) for p in parts)

    out = expr()
    if pos[0] != len(toks):
        raise ValueError(f"trailing tokens at {pos[0]}: {toks[pos[0]:]}")
    return out


def _format_num(x: float) -> str:
    """Render a numeric literal the way it would appear as a partition
    Value string (ints without the trailing .0)."""
    return str(int(x)) if float(x).is_integer() else str(x)


def glue_column_statistics(
    client, database: str, table: str, columns: list
) -> dict[str, dict]:
    """Ingest Glue-recorded column statistics into the engine's CBO
    profile shape ({column: {n_nulls, n_distinct, min_val, max_val}})
    — the catalog-plane twin of the one-pass computed profile
    (operators/catalog_ops.catalog_column_stats): where the catalog
    already analyzed a column, planning reads KB of API response
    instead of re-scanning the table; absent columns are simply
    missing from the result and the caller recomputes them.  Parses
    the Long/Double/Boolean StatisticsData arms (the numeric subset a
    CBO consumes); other arms are skipped rather than misread."""
    resp = client.get_column_statistics_for_table(
        DatabaseName=database, TableName=table, ColumnNames=list(columns)
    )
    out: dict[str, dict] = {}
    for item in resp.get("ColumnStatisticsList") or []:
        data = item.get("StatisticsData") or {}
        kind = data.get("Type")
        arm = {
            "LONG": "LongColumnStatisticsData",
            "DOUBLE": "DoubleColumnStatisticsData",
            "BOOLEAN": "BooleanColumnStatisticsData",
        }.get(kind)
        if arm is None or arm not in data:
            continue
        d = data[arm]
        if kind == "BOOLEAN":
            # Real Glue BooleanColumnStatisticsData carries
            # NumberOfTrues/NumberOfFalses (no NDV field); derive the
            # distinct count from which sides are populated so a CBO
            # consumer never sees n_distinct=0 for an analyzed column.
            n_distinct = int(int(d.get("NumberOfTrues", 0)) > 0) + int(
                int(d.get("NumberOfFalses", 0)) > 0
            )
        else:
            n_distinct = int(d.get("NumberOfDistinctValues", 0))
        prof = {
            "n_nulls": int(d.get("NumberOfNulls", 0)),
            "n_distinct": n_distinct,
        }
        if "MinimumValue" in d:
            prof["min_val"] = float(d["MinimumValue"])
        if "MaximumValue" in d:
            prof["max_val"] = float(d["MaximumValue"])
        out[item["ColumnName"]] = prof
    return out


def testdata_fixture(sf_dir: str, database: str = "default") -> FakeGlueClient:
    """FakeGlue catalog describing the driver's testdata tables."""
    tables = {
        name: parquet_table(
            database,
            name,
            os.path.join(sf_dir, f"{name}.parquet"),
            cols,
        )
        for name, cols in TESTDATA_GLUE_COLUMNS.items()
    }
    return FakeGlueClient({database: tables})
