"""Connection facade mirroring the reference Python API shape
(reference tools/python/lingodb/__init__.py:43-72):

    con = lingodb.connect_to_db(path)   ->  con = lingo_db_spark.connect(sf_dir)
    con.sql(query) -> arrow table       ->  con.sql(query) -> DataFrame
    con.sql_stmt(ddl)                   ->  con.sql_stmt(ddl)
    con.add_table(name, arrow_table)    ->  con.add_table(name, df_or_pandas)
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from lingo_db_spark import catalog
from lingo_db_spark.session import build_session, local_frame


# Lazy-PLAN cache for the initialize.sql loading journey (r14 opt
# round, guide §5: the driver should do almost no per-call work).  The
# verbatim anchors re-run the same script per timed run, and each COPY
# paid ~22 ms of DataFrameReader resolution + file listing for identical
# inputs.  The cache holds LAZY DataFrames only — an unmaterialized CSV
# scan keyed on (path, mtime, size, schema, opts) so a rewritten file can
# never serve a stale plan; no persist/cache is ever called, so every
# action still computes from the files.  CREATE TABLE needs no cache: its
# empty table is a zero-partition local relation (session.local_frame),
# built without a job and read without tasks.
_CSV_PLAN_CACHE: dict[tuple, DataFrame] = {}
_PLAN_CACHE_MAX = 512


def _csv_plan(spark: SparkSession, path: str, schema: Any,
              opts: tuple) -> DataFrame:
    import os
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None                    # let the reader raise its error
    key = (catalog.session_key(spark), path, stamp, schema.json(), opts)
    df = _CSV_PLAN_CACHE.get(key)
    if df is None:
        if len(_CSV_PLAN_CACHE) >= _PLAN_CACHE_MAX:
            _CSV_PLAN_CACHE.clear()
        reader = spark.read.options(**dict(opts))
        df = _CSV_PLAN_CACHE[key] = reader.schema(schema).csv(path)
    return df


class Connection:
    """A session bound to a directory of parquet tables."""

    def __init__(self, spark: SparkSession, sf_dir: str | None = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.base_dir = sf_dir          # COPY relative-path anchor
        self.last_rewritten_sql: str | None = None
        self.tables: dict[str, DataFrame] = {}
        self.declared: dict[str, Any] = {}       # name -> StructType
        self.primary_keys: dict[str, list[str]] = {}
        if sf_dir is not None:
            self.tables = catalog.register_views(spark, sf_dir)

    def sql(self, query: str) -> DataFrame:
        """Run a query; lazy DataFrame result (reference Connection.sql
        returns a materialized Arrow table; call .toArrow()/.collect()).

        Correlation-scope parity: Catalyst rejects outer references in a
        subquery's SELECT list / GROUP BY, which the reference's general
        unnesting accepts (Unnesting.cpp:18-333).  On exactly that class
        of analysis error — UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY, or
        an unresolved `alias.col` whose alias is bound one subquery
        level up (the nested-correlation scope gap) — the query is
        retried through the separable-term hoist in
        sqlrewrite.decorrelate_select_list (corpus-value-checked in
        tools/sqllogic.py) before the original error is re-raised.
        Other resolution errors (typos, missing tables) re-raise
        untouched so a rewriter bug can never swallow a real
        diagnostic.  An applied rewrite is logged and kept on
        `self.last_rewritten_sql` for inspection."""
        import re as _re

        from pyspark.errors import AnalysisException, ParseException
        try:
            df = self.spark.sql(query)
            df.schema          # force analysis while still lazy
            return self._scale_rewrite(query, df)
        except ParseException as e:
            # Reference-dialect constructs Spark's GRAMMAR lacks:
            # quantified ANY/ALL/SOME comparisons (parser.y binds them
            # natively) and postgres cast type names.  Retry through
            # the same rewrites the corpus runner uses — every rewrite
            # class is value-checked by the 8,884-query select-corpus
            # sweep.  If nothing applies, the original parse error
            # stands.
            from lingo_db_spark.dialect import (
                apply_analysis_shims,
                apply_parse_shims,
                pipe_to_standard,
            )
            # UNSUPPORTED_DATATYPE (postgres CAST type names) surfaces
            # as a ParseException too — run both shim families.  The
            # quoted-identifier shim (the one rewrite that can change
            # the meaning of a span Spark could also read as a string
            # literal) only applies when the other shims alone still
            # fail Spark's GRAMMAR — checked via the parses callback.
            def _parses(q: str) -> bool:
                # Parse-ONLY probe.  spark.sql() here would eagerly
                # EXECUTE command statements (INSERT/CTAS/SET) — once
                # in the probe and again when the shimmed text runs.
                # Go straight to the catalyst parser, which can never
                # execute anything.
                try:
                    (self.spark._jsparkSession.sessionState()
                     .sqlParser().parsePlan(q))
                    return True
                except ParseException:
                    return False
                except Exception as pe:  # noqa: BLE001
                    # py4j wraps the Java exception: classify by the
                    # JAVA CLASS NAME, not substring-matching the
                    # message.  A parse failure -> False (shim may
                    # apply); any OTHER probe failure (py4j transport
                    # error, Spark Connect without _jsparkSession) is
                    # a DELIBERATE fail-open: report "parses" so the
                    # meaning-changing quoted-identifier shim is never
                    # applied on the strength of a broken probe — the
                    # original text (and its original error) stands.
                    # Logged so the degradation is visible.
                    jexc = getattr(pe, "java_exception", None)
                    if jexc is not None:
                        try:
                            cls = jexc.getClass().getName()
                        except Exception:  # noqa: BLE001
                            cls = ""
                        if "ParseException" in cls:
                            return False
                    import sys
                    print(f"lingo_db_spark: parse probe broke "
                          f"({type(pe).__name__}: {str(pe)[:120]}) — "
                          f"quoted-identifier shim disabled for this "
                          f"statement", file=sys.stderr)
                    return True

            shimmed = apply_analysis_shims(
                apply_parse_shims(query, parses=_parses))
            if shimmed == query and "|>" in query:
                # pipe-SQL stages Spark's |> rejects (e.g. AGGREGATE
                # with GROUP BY ROLLUP) — the corpus runner's fallback
                # translation, value-checked there
                try:
                    shimmed = pipe_to_standard(query)
                except Exception:       # noqa: BLE001 — keep original
                    raise e from None
            if shimmed == query:
                raise
            self.last_rewritten_sql = shimmed
            return self.sql(shimmed)
        except AnalysisException as e:
            msg = str(e)
            from lingo_db_spark.sqlrewrite import (
                decorrelate_select_list,
                is_correlated_scope_gap,
            )
            # reference-dialect constructs Spark parses but rejects at
            # analysis: postgres CAST type names, unit-quoted datediff
            # (tpcxbb 22.sql) — retry through the analysis shims first
            if ("UNSUPPORTED_DATATYPE" in msg
                    or "INVALID_PARAMETER_VALUE.DATETIME_UNIT" in msg):
                from lingo_db_spark.dialect import apply_analysis_shims
                shimmed = apply_analysis_shims(query)
                if shimmed != query:
                    self.last_rewritten_sql = shimmed
                    return self.sql(shimmed)
            retryable = (
                "UNSUPPORTED_SUBQUERY_EXPRESSION_CATEGORY" in msg
                or "SCALAR_SUBQUERY_IS_IN_GROUP_BY" in msg)
            if not retryable and "cannot be resolved" in msg:
                um = _re.search(
                    r"name `(\w+)`\.`\w+` cannot be resolved", msg)
                if um:
                    # postgres-style implicit lateral scoping: a derived
                    # table referencing a SIBLING FROM item (tpcxbb
                    # 16.sql; the reference's unnesting evaluates it) —
                    # Spark wants the explicit LATERAL keyword
                    from lingo_db_spark.dialect import lateralize
                    lat = lateralize(query, um.group(1))
                    if lat != query:
                        try:
                            df = self.sql(lat)
                        except Exception:   # noqa: BLE001
                            df = None       # fall through: the alias may
                            #  be a correlation gap, not a lateral one
                        if df is not None:
                            self.last_rewritten_sql = lat
                            return df
                retryable = bool(
                    um and is_correlated_scope_gap(query, um.group(1)))
            if not retryable:
                raise
            rewritten = decorrelate_select_list(
                query, columns_of=self._resolve_columns)
            if rewritten == query:
                raise
            import logging
            logging.getLogger(__name__).info(
                "SQL door: SELECT-list decorrelation rewrite applied")
            self.last_rewritten_sql = rewritten
            return self.spark.sql(rewritten)

    def _scale_rewrite(self, query: str, df: DataFrame) -> DataFrame:
        """PERFORMANCE rewrites on the successfully-analyzed path (the
        error-retry rewrites above are correctness shims; this one
        changes plans that already work).  Today exactly one class:
        monotone-EXISTS / positive correlated IN -> scalar-aggregate
        (sqlrewrite.exists_to_aggregate), which removes Catalyst's
        fact-sized left-semi/anti hash-build for the verbatim TPC-H
        q4/q21 shapes and their IN-membership siblings (r12) — the library queries got the same algebra in
        r10 (queries/tpch.py:q4, tpch2.py:q21); this closes the door
        the reference's primary entry point uses (run-sql.cpp:15-41).
        The rewritten text must itself pass analysis or the original
        DataFrame is returned unchanged — a rewriter bug can cost the
        optimization, never a working query.  Value-gating lives in
        the verbatim suites (tests/test_*_verbatim.py run every suite
        query through this door against DuckDB) and the sqllogic
        corpus."""
        import os
        if os.environ.get("LINGODB_SCALE_REWRITES", "1") == "0":
            return df
        # Bare queries ONLY: spark.sql() already EXECUTED command
        # statements (INSERT/CTAS/COPY...) eagerly at connection.py:56
        # — re-running a rewritten INSERT...SELECT here would apply the
        # DML twice (the same eager-execution hazard the parse probe
        # documents above; caught by the r12 adversarial review before
        # any gate tripped it, since every gate query is a SELECT).
        # Classification is by the MAIN statement's keyword with the
        # depth-0 CTE list skipped (sqlrewrite.main_statement_keyword):
        # Spark accepts CTE-prefixed DML (`WITH x AS (...) INSERT INTO
        # ...`), which starts with `with` but is NOT a bare query — the
        # r12 leading-keyword gate would have re-run that INSERT.
        # Comment headers are stripped inside the classifier (the
        # verbatim benchmark files open with a title comment).
        from lingo_db_spark.sqlrewrite import main_statement_keyword
        if main_statement_keyword(query) not in ("select", "("):
            return df
        ql = re.sub(r"^(\s*--[^\n]*\n)+", "", query).lstrip().lower()
        if ("exists" not in ql
                and re.search(r"\bin\s*\(\s*select\b", ql) is None):
            return df
        from lingo_db_spark.sqlrewrite import exists_to_aggregate
        rewritten = exists_to_aggregate(query, self._resolve_columns,
                                        notnull_of=self._notnull_columns)
        if rewritten == query:
            return df
        try:
            df2 = self.spark.sql(rewritten)
            df2.schema
        except Exception:       # noqa: BLE001 — keep the working plan
            return df
        import logging
        logging.getLogger(__name__).info(
            "SQL door: monotone-EXISTS scale rewrite applied")
        self.last_rewritten_sql = rewritten
        return df2

    def _resolve_columns(self, t: str):
        try:
            return self.spark.table(t).columns
        except Exception:       # noqa: BLE001
            return None

    def _notnull_columns(self, t: str) -> set[str]:
        """Columns of `t` PROVABLY non-null from declared metadata —
        the NOT NULL / PRIMARY KEY constraints ddl.parse_create_table
        pinned (the reference's catalog nullability,
        InferNotNullConditions.cpp reads the same facts).  Parquet-
        backed views deliberately yield the empty set (Spark marks
        their columns nullable), so the NOT IN scale rewrite only
        fires on declared schemas."""
        out: set[str] = set(self.primary_keys.get(t, ()))
        schema = self.declared.get(t)
        if schema is not None:
            out.update(f.name for f in schema.fields if not f.nullable)
        return out

    def sql_arrow(self, query: str):
        """Exact reference signature: query -> materialized pyarrow.Table
        (reference Connection.sql, tools/python/lingodb/__init__.py:50 —
        its results ARE Arrow tables; Spark 4's df.toArrow() gives the
        same exchange format).

        Being EAGER like the reference, this door also closes the
        execution-time residue of the correlation-scope gap: a
        correlated join-ON shape Catalyst happens to accept at analysis
        but rejects at codegen ("Cannot generate code ... outer(...)" —
        the class tools/sqllogic.py catches at collect time) retries
        through the same value-checked decorrelation before the
        original error surfaces.  In Spark 4.1.2 every known corpus
        shape (unnesting.test#75/#78 family) already fails at ANALYSIS
        and is handled by the lazy `sql` retry above — this wrapper is
        the belt-and-suspenders parity guarantee that the eager door
        can never be weaker than the corpus runner."""
        df = self.sql(query)
        try:
            return df.toArrow()
        except Exception as e:      # noqa: BLE001
            msg = str(e)
            if not ("Cannot generate code" in msg and "outer(" in msg):
                raise
            from lingo_db_spark.sqlrewrite import decorrelate_select_list
            rewritten = decorrelate_select_list(
                query, columns_of=self._resolve_columns)
            if rewritten == query:
                raise
            import logging
            logging.getLogger(__name__).info(
                "SQL door: execution-time decorrelation rewrite applied")
            self.last_rewritten_sql = rewritten
            return self.spark.sql(rewritten).toArrow()

    def sql_stmt(self, stmt: str) -> None:
        """DDL/DML statement with no result.

        CREATE FUNCTION ... LANGUAGE C / LANGUAGE python (the
        reference's UDF surfaces, UDFImplementer.cpp and the
        ENABLE_PYTHON embedded-CPython build) are intercepted and
        registered as Arrow-batched pandas UDFs under the SQL name —
        Spark's own parser has no LANGUAGE clause.

        Reference-dialect loading statements (the initialize.sql
        journey — CREATE TABLE with not-null/primary-key constraints,
        COPY ... FROM, INSERT INTO a declared table) route through
        lingo_db_spark.ddl; everything else goes straight to
        Catalyst."""
        from lingo_db_spark import ddl
        from lingo_db_spark.functions import cudf, pyudf
        # blank / comment-only input no-ops: the reference's own API
        # smoke (tools/python/test/test.py) feeds initialize.sql to
        # sql_stmt LINE BY LINE, comments and blank lines included
        bare = "\n".join(ln for ln in stmt.splitlines()
                         if not ln.lstrip().startswith("--")).strip()
        if not bare:
            return
        if cudf.is_c_function_stmt(stmt):
            cudf.register_c_function(self.spark, stmt)
            return
        if pyudf.is_py_function_stmt(stmt):
            pyudf.register_py_function(self.spark, stmt)
            return
        if (ct := ddl.parse_create_table(stmt)) is not None:
            name, schema, pk = ct
            self.declared[name] = schema
            self.primary_keys[name] = pk
            empty = local_frame(self.spark, [], schema)
            empty.createOrReplaceTempView(name)
            self.tables[name] = empty
            return
        if (cp := ddl.parse_copy(stmt)) is not None:
            name, path, opts = cp
            import os
            if not os.path.isabs(path) and self.base_dir:
                path = os.path.join(self.base_dir, path)
            schema = self.declared.get(name)
            if schema is None:
                schema = self.spark.table(name).schema
            ropts = {"sep": opts["sep"], "escape": opts["escape"],
                     "header": str(opts["header"]).lower()}
            if opts.get("nullValue") is not None:
                ropts["nullValue"] = opts["nullValue"]
            if opts.get("quote"):
                ropts["quote"] = opts["quote"]
            df = _csv_plan(self.spark, path, schema,
                           tuple(sorted(ropts.items())))
            df.createOrReplaceTempView(name)
            self.tables[name] = df
            return
        if (ins := ddl.parse_insert(stmt)) is not None and \
                ins[0] in self.declared:
            name, cols, source = ins
            src = self.spark.sql(
                source if ddl.is_query(source) and
                not source.lower().startswith("values")
                else f"SELECT * FROM ({source})")
            schema = self.declared[name]
            if cols:
                # SQL identifiers are case-insensitive in the reference
                # dialect: resolve the parsed column list against the
                # declared schema case-insensitively, and raise on any
                # unknown name rather than silently NULL-filling the
                # declared column (which would corrupt data).
                by_lower = {f.name.lower(): f.name for f in schema.fields}
                unknown = [c for c in cols if c.lower() not in by_lower]
                if unknown:
                    raise ValueError(
                        f"INSERT INTO {name}: unknown column(s) "
                        f"{unknown}; declared = "
                        f"{[f.name for f in schema.fields]}")
                cols = [by_lower[c.lower()] for c in cols]
            names = cols or [f.name for f in schema.fields][:len(src.columns)]
            src = src.toDF(*names)
            from pyspark.sql import functions as F
            full = src.select(*[
                (F.col(f.name) if f.name in names
                 else F.lit(None)).cast(f.dataType).alias(f.name)
                for f in schema.fields])
            self.append_table(name, full)
            return
        self.spark.sql(stmt)

    def add_table(self, name: str, data: Any) -> DataFrame:
        """Register new table from a DataFrame / pandas / list of rows
        (reference add_table = generated CREATE TABLE + append)."""
        df = data if isinstance(data, DataFrame) else self.spark.createDataFrame(data)
        df.createOrReplaceTempView(name)
        self.tables[name] = df
        return df

    def append_table(self, name: str, data: Any) -> DataFrame:
        """Append rows to a registered table (reference
        Connection.append_table, tools/python/lingodb/__init__.py:62):
        the view is re-bound to the union, preserving schema by name."""
        extra = (data if isinstance(data, DataFrame)
                 else self.spark.createDataFrame(data))
        base = self.tables.get(name) or self.spark.table(name)
        df = base.unionByName(extra)
        df.createOrReplaceTempView(name)
        self.tables[name] = df
        return df

    def run_script(self, text: str,
                   base_dir: str | None = None) -> list[DataFrame]:
        """Execute a multi-statement SQL script (the reference's
        initialize.sql loading journey: SET / CREATE TABLE / COPY /
        INSERT / queries).  Returns the lazy DataFrames of any query
        statements, in order.  `base_dir` anchors COPY's relative
        paths for the duration of the script."""
        from lingo_db_spark import ddl
        prev, results = self.base_dir, []
        if base_dir is not None:
            self.base_dir = base_dir
        try:
            for stmt in ddl.split_script(text):
                if ddl.is_query(stmt):
                    results.append(self.sql(stmt))
                else:
                    self.sql_stmt(stmt)
        finally:
            self.base_dir = prev
        return results

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def explain(self, query: str) -> str:
        import contextlib
        import io
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.spark.sql(query).explain("formatted")
        return buf.getvalue()


def connect(sf_dir: str | None = None, **session_kwargs) -> Connection:
    return Connection(build_session(**session_kwargs), sf_dir)


def connect_to_db(sf_dir: str | None = None, **session_kwargs) -> Connection:
    """Exact reference entry-point name (lingodb.connect_to_db)."""
    return connect(sf_dir, **session_kwargs)


def create_in_memory(**session_kwargs) -> Connection:
    """Reference ``create_in_memory()`` — a connection with no base tables."""
    return Connection(build_session(**session_kwargs), None)
