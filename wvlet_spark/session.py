"""WvletSession — compile and run wvlet queries on a SparkSession.

Execution model (mirrors the reference's Compiler + QueryExecutor split,
re-imagined for Spark):

    parse -> register defs -> analyze (expand models/vals/defs)
          -> stage special sources (files, show-commands) as temp views
          -> generate Spark SQL -> spark.sql(...) -> DataFrame

The DuckDB dialect of the same generator produces oracle SQL used by the
test-suite / driver to cross-check results.
"""

from __future__ import annotations

import os
import re

from wvlet_spark import nodes as N
from wvlet_spark.analyzer import Analyzer, transform
from wvlet_spark.generator import DUCKDB, SPARK, CompileError, GenContext, SqlGenerator
from wvlet_spark.parser import Parser, _SaveMarker


class WvletSession:
    def __init__(self, spark=None, table_dir: str | None = None, file_base: str | None = None,
                 test_mode: bool = True):
        """
        spark: SparkSession (optional for compile-only use)
        table_dir: directory of <table>.parquet files auto-registered as views
        file_base: base dir for relative 'file.ext' scans
        test_mode: evaluate in-query `test` assertions after execution
        """
        self.spark = spark
        self.analyzer = Analyzer()
        # catalog lookup for the asof-join duplicate-column analysis
        self.analyzer.table_columns = self.table_columns
        # stdlib natives (reference ships ulid_string in its standard
        # library; calls are compile-time evaluated)
        self.analyzer.register(N.FunctionDef(
            "ulid_string", [], "string", N.NativeExpr("ulid_string", "string")))
        self.file_base = file_base
        self.test_mode = test_mode
        self._schema_cache: dict[str, list[str]] = {}
        self._coltype_cache: dict[str, str] = {}
        # footer-stats cache for the join-order pass: resolving a table to
        # its files costs a JVM roundtrip per lookup, so hits are kept for
        # the session and invalidated whenever a statement writes a table
        self._tstats_cache: dict[str, object] = {}
        self._file_views: dict[str, str] = {}
        self._view_n = 0
        self._watermarks: dict[str, object] = {}
        self._flows: dict[str, N.FlowDef] = {}
        self._flow_executor = None
        self._connectors: dict[str, object] = {}
        self._conn_staged: dict[str, str] = {}   # connector -> staged view
        self._profiles: dict[str, object] = {}   # prefix -> table resolver
        # register_tool entries; the built-ins join on the first `call`, so
        # compiling never imports the operator library (pandas, pyspark.sql)
        self._tools: dict[str, object] = {}
        self._builtin_tools_loaded = False
        self.last_test_results: list[tuple[bool, str]] = []
        if spark is not None:
            try:
                # Spark 4.1 TIME type (wvlet `time`, TIME 'hh:mm:ss'
                # literals) ships behind this flag
                spark.conf.set("spark.sql.timeType.enabled", "true")
            except Exception:
                pass  # older Spark: TIME queries raise their own error
        if table_dir and spark is not None:
            self.register_parquet_dir(table_dir)

    # ------------------------------------------------------------- catalog

    def register_parquet_dir(self, table_dir: str) -> None:
        self._tstats_cache.clear()
        for fn in sorted(os.listdir(table_dir)):
            if fn.endswith(".parquet"):
                name = fn[: -len(".parquet")]
                path = os.path.join(table_dir, fn)
                df = read_parquet_robust(self.spark, path)
                df.createOrReplaceTempView(name)
                self._schema_cache[name] = df.columns

    def table_columns(self, name: str) -> list[str] | None:
        if name in self._schema_cache:
            return self._schema_cache[name]
        if self.spark is None:
            return None
        try:
            cols = self.spark.table(name).columns
            self._schema_cache[name] = cols
            return cols
        except Exception:
            return None

    # ------------------------------------------------------------- compile

    def _make_ctx(self, dialect: str) -> GenContext:
        def name_map(name: str) -> str:
            if name in self._file_views:
                return self._file_views[name]
            # schema-bound table types: `type t in catalog.schema = {...}`
            # makes catalog-qualified refs resolve through the binding
            # (reference: spec/basic/type-table-binding.wv); Spark has no
            # `memory` catalog, so map to the schema it can reach
            table = name.split(".")[-1]
            t = self.analyzer.types.get(table)
            if t is not None and t.binding and name != table:
                schema = t.binding.split(".")[-1]
                if schema != "main" and self.spark is not None:
                    try:
                        if any(d.name == schema
                               for d in self.spark.catalog.listDatabases()):
                            return f"{schema}.{table}"
                    except Exception:
                        pass
                return table
            return name

        prober = None
        if self.spark is not None and dialect == SPARK:
            def prober(sql: str):
                return [r[0] for r in self.spark.sql(sql).collect()]

        return GenContext(
            dialect=dialect,
            table_columns=self.table_columns,
            prober=prober,
            table_name_map=name_map,
            column_type=self.column_type,
        )

    # sentinel cached for a column name that appears in multiple registered
    # tables with DIFFERING types — the lookup is then ambiguous and callers
    # (the decimal-aggregate rewrite) must not apply a type-directed rewrite
    _AMBIGUOUS_TYPE = "<ambiguous>"

    def column_type(self, col: str) -> str | None:
        """Spark type simpleString of a bare column name, looked up across
        the registered table views (schema comes from the already-read
        parquet footers — no job runs).  If the name resolves in several
        tables with conflicting types the answer is None (ambiguous):
        a first-match-wins guess could cast an aggregate at the wrong
        decimal scale.  Same-typed duplicates are fine."""
        if self.spark is None:
            return None
        cached = self._coltype_cache.get(col)
        if cached is not None:
            return None if cached == self._AMBIGUOUS_TYPE else cached
        found: str | None = None
        for table in list(self._schema_cache):
            cols = self._schema_cache.get(table) or []
            if col in cols:
                try:
                    schema = self.spark.table(table).schema
                except Exception:
                    continue
                for f in schema.fields:
                    if f.name == col:
                        t = f.dataType.simpleString()
                        if found is None:
                            found = t
                        elif found != t:
                            self._coltype_cache[col] = self._AMBIGUOUS_TYPE
                            return None
        if found is not None:
            self._coltype_cache[col] = found
        return found

    def parse(self, text: str) -> list[N.Statement]:
        return Parser(text).parse_statements()

    def to_wvlet(self, sql: str, dialect: str = "duckdb") -> str:
        """Convert SQL statement(s) to wvlet source text (the reference's
        `to_wvlet` migration path, SqlParser.scala / WvletGenerator.scala —
        here DuckDB's json_serialize_sql does the parsing and
        sql_import.py emits wvlet).  dialect: 'duckdb' (ANSI), 'trino', or
        'hive' — Trino/Hive grammar is translated first
        (sql_dialect.translate)."""
        from wvlet_spark.sql_import import sql_to_wvlet

        return sql_to_wvlet(sql, dialect=dialect)

    def run_selection(self, text: str, line: int | None = None,
                      mode: str = "subquery"):
        """Interactive selection: run `text` as selected by cursor `line`
        and `mode` — "subquery" (the containing statement truncated at the
        cursor: mid-pipeline preview), "describe" (its schema), "single",
        "all_before", "all".  The reference's editor UX
        (compiler/query/QuerySelector.scala)."""
        from wvlet_spark.selector import select_text

        return self.run(select_text(text, line, mode))

    def run_sql(self, sql: str, dialect: str = "duckdb"):
        """Convert SQL to wvlet and execute it — one-call migration check."""
        return self.run(self.to_wvlet(sql, dialect=dialect))

    def compile_to_sql(self, text: str, dialect: str = SPARK,
                       params: list | tuple | dict | None = None) -> str:
        """Compile the last query statement in `text` to SQL.  `params`
        binds prepared-statement parameters (`?` / `$1` positionally from a
        list, `$name` from a dict)."""
        stmts = self.parse(text)
        sql = None
        for stmt in stmts:
            self.analyzer.register(stmt)
            if isinstance(stmt, N.QueryStatement):
                body = _bind_prepared_params(stmt.body, params) \
                    if params is not None else stmt.body
                sql = self._gen_sql(body, dialect)
        if sql is None:
            raise CompileError("no query statement found")
        return sql

    def _gen_sql(self, rel: N.Relation, dialect: str,
                 params=None) -> str:
        plan = self.analyzer.resolve(rel)
        if params is not None:
            # second binding pass AFTER model expansion: parameters inside
            # an expanded model body (a converted PREPARE statement) only
            # exist post-resolve
            plan = _bind_prepared_params(plan, params)
        if dialect == SPARK and self.spark is not None:
            plan = self._stage_sources(plan)
            plan = self._reorder_joins(plan)
        gen = SqlGenerator(self._make_ctx(dialect))
        return gen.generate(plan)

    def _reorder_joins(self, plan: N.Relation) -> N.Relation:
        """Greedy join reordering from parquet-footer stats (joinorder.py).

        Catalyst executes multi-way inner joins in written order when no
        catalog statistics exist (path-registered parquet views never
        have them), so the engine supplies the order.  Mis-estimates can
        only cost time, never correctness — the rewrite keeps every
        conjunct and only permutes inner/cross chain operands."""
        from wvlet_spark.joinorder import reorder_joins

        return reorder_joins(plan, self.table_columns, self._table_stats,
                             broadcast_bytes=self._broadcast_threshold())

    def _broadcast_threshold(self):
        """The session's autoBroadcastJoinThreshold in bytes (None when
        unreadable -> joinorder falls back to Spark's 10 MB default).
        The cost model treats a join step whose smaller side fits this
        as shuffle-free, matching what AQE does at runtime."""
        try:
            v = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        except Exception:
            return None
        return _parse_byte_conf(v)

    def _table_stats(self, name: str):
        """Footer stats for a bare-scan table/view; None disqualifies the
        relation from join reordering (CTE names, staged subqueries,
        non-parquet sources, remote files)."""
        from wvlet_spark.stats import parquet_table_stats

        resolved = self._file_views.get(name, name)
        if resolved in self._tstats_cache:
            return self._tstats_cache[resolved]
        stats = None
        try:
            df = self.spark.table(resolved)
            plan_str = df._jdf.queryExecution().analyzed().toString()
            # rows below must come from a bare scan (a Project over the
            # scan — read_parquet_robust's ns-timestamp cast — is fine;
            # anything row-changing is not)
            if not any(frag in plan_str for frag in (
                    "Filter", "Join", "Aggregate", "Window", "Generate",
                    "Union", "GlobalLimit", "Sample", "Expand",
                    "Deduplicate", "LocalRelation")):
                files = df.inputFiles()
                if files:
                    stats = parquet_table_stats(list(files))
        except Exception:
            stats = None
        self._tstats_cache[resolved] = stats
        return stats

    # -------------------------------------------------- special source staging

    def _stage_sources(self, plan: N.Relation) -> N.Relation:
        """Register file scans (with correct read options) and show-commands
        as temp views so the generated SQL can reference them."""

        def rel_fn(node: N.Relation) -> N.Relation:
            if isinstance(node, N.FileScan):
                return N.TableRef(self._stage_file(node))
            if isinstance(node, N.Show):
                return N.TableRef(self._stage_show(node))
            if isinstance(node, N.Subscribe):
                return self._stage_subscribe(node)
            if isinstance(node, N.TableRef) and node.name in self._connectors:
                return N.TableRef(self._stage_connector(node.name))
            if isinstance(node, N.TableRef) and "." in node.name:
                prefix, rest = node.name.split(".", 1)
                if prefix in self._profiles:
                    # profile namespace: materialize a connector for this
                    # table on first reference; staging/one-invocation
                    # semantics come from the normal connector path
                    self._connectors[node.name] = self._profiles[prefix](rest)
                    return N.TableRef(self._stage_connector(node.name))
            return node

        return transform(plan, rel_fn=rel_fn)

    def register_connector(self, name: str, fn) -> None:
        """Register an external source: `from <name>` calls fn(spark) -> DataFrame
        and stages the result (the reference's profile-connector tables, e.g.
        `from slack.channels` — TableScan.connectorName / SourceTableStaging —
        re-expressed as Python connector functions).  Dotted names allowed."""
        self._connectors[name] = fn

    def register_tool(self, name: str, fn) -> None:
        """Register an external action for `call name(args)`:
        fn(spark, **kwargs) -> DataFrame | None."""
        self._tools[name] = fn

    def _register_builtin_tools(self) -> None:
        """The training-pipeline operator library at the LANGUAGE level:
        `call exact_dedup(table='documents')`,
        `call decontaminate(table='train_docs', benchmark='eval_docs')`,
        `call deterministic_sample(table='documents', fraction=0.1)`, ...
        Each builtin reads the named registered table(s) and returns the
        operator's DataFrame as the statement result (pipe operators can
        continue the result like any relation)."""
        def _df(name: str):
            if name in self.analyzer.models:
                # wvlet models are valid tool inputs: the SUMMARIZE-over-
                # subquery import path defines one and profiles it
                # (round-8; previously a typed reject)
                return self.run(f"from {name}")
            return self.spark.table(name)

        def _one_table(fn, **fixed):
            def tool(spark, table, **kw):
                return fn(_df(table), **{**fixed, **kw})
            return tool

        from wvlet_spark.ops import dedup, sampling, text

        self._tools.update({
            "exact_dedup": _one_table(dedup.exact_dedup),
            "minhash_pairs": _one_table(dedup.minhash_near_dup_pairs),
            "dup_spans": _one_table(dedup.duplicate_substring_spans),
            "language_id": _one_table(text.language_id),
            "quality_score": _one_table(text.quality_score),
            "token_stats": _one_table(text.token_stats),
            "fingerprint": _one_table(text.document_fingerprint),
            "pii_scan": _one_table(text.pii_scan),
            "repetition_stats": _one_table(text.repetition_stats),
            "vocabulary": _one_table(text.vocabulary_df),
            "tfidf_terms": _one_table(text.tfidf_top_terms),
            "remove_boilerplate": _one_table(text.remove_boilerplate_lines),
        })

        from wvlet_spark.ops import sketches, similarity

        def tool_approx_distinct(spark, table, group, column, **kw):
            groups = [g.strip() for g in str(group).split(",")]
            return sketches.approx_distinct_by(_df(table), groups,
                                               column, **kw)

        self._tools.update({
            "frequent_terms": _one_table(sketches.frequent_terms),
            "approx_distinct": tool_approx_distinct,
            "semantic_dedup": _one_table(similarity.semantic_dedup),
            "quantize_embeddings": _one_table(
                similarity.quantize_embeddings),
            "unigram_lm": _one_table(text.unigram_lm_logprob),
            "collocations": _one_table(text.collocations_pmi),
            "corpus_profile": _one_table(text.corpus_profile),
            "bigram_lm": (lambda spark, table, train=None, **kw:
                          text.bigram_lm_logprob(
                              _df(table),
                              train_df=_df(train) if train else None,
                              **kw)),
            "random_projection": _one_table(similarity.random_projection),
            "pca_project": _one_table(similarity.pca_project),
            "minhash_portable": _one_table(
                dedup.minhash_near_dup_pairs, portable=True),
            "simhash_pairs": _one_table(
                dedup.simhash_near_dup_pairs_portable),
        })

        def tool_sample(spark, table, fraction, **kw):
            return sampling.deterministic_sample(
                _df(table), float(fraction), **kw)

        def tool_epoch_shuffle(spark, table, epoch, **kw):
            return sampling.epoch_shuffle(_df(table), int(epoch), **kw)

        self._tools["epoch_shuffle"] = tool_epoch_shuffle

        def tool_length_histogram(spark, table, **kw):
            if "n_buckets" in kw:
                kw["n_buckets"] = int(kw["n_buckets"])
            return text.length_histogram(_df(table), **kw)

        self._tools["length_histogram"] = tool_length_histogram

        def tool_bloom_build(spark, table, **kw):
            for a in ("m_bits", "k"):
                if a in kw:
                    kw[a] = int(kw[a])
            return sketches.bloom_build(_df(table), **kw)

        def tool_length_bins(spark, table, **kw):
            if "n_bins" in kw:
                kw["n_bins"] = int(kw["n_bins"])
            return text.length_ntile_bins(_df(table), **kw)

        self._tools["bloom_build"] = tool_bloom_build
        self._tools["ngram_diversity"] = _one_table(text.ngram_diversity)
        self._tools["length_bins"] = tool_length_bins

        def tool_hard_negatives(spark, table, **kw):
            for a in ("k", "anchor_mod"):
                if a in kw:
                    kw[a] = int(kw[a])
            return similarity.hard_negative_mining(_df(table), **kw)

        self._tools["hard_negatives"] = tool_hard_negatives

        from wvlet_spark.ops import analytics

        def tool_funnel(spark, table, steps, **kw):
            names = [s.strip() for s in str(steps).split(",")]
            if "within_seconds" in kw:
                kw["within_seconds"] = int(kw["within_seconds"])
            return analytics.funnel(_df(table), names, **kw)

        def tool_fuzzy_pairs(spark, table, id, name, **kw):
            for a in ("block_len", "max_dist", "block_cap"):
                if a in kw:
                    kw[a] = int(kw[a])
            return dedup.fuzzy_name_pairs(_df(table), id, name, **kw)

        def tool_skew_report(spark, table, keys, **kw):
            cols = [c.strip() for c in str(keys).split(",")]
            if "top_k" in kw:
                kw["top_k"] = int(kw["top_k"])
            return sketches.skew_report(_df(table), cols, **kw)

        def tool_profile(spark, table, cols=None):
            # cols omitted / '*' -> every column (the SUMMARIZE import
            # path has no schema access, so the default must be total)
            df = _df(table)
            if cols is None or str(cols).strip() in ("*", ""):
                names = list(df.columns)
            else:
                names = [c.strip() for c in str(cols).split(",")]
            return sketches.profile_numeric(df, names)

        def tool_funnel_latency(spark, table, steps, **kw):
            names = [s.strip() for s in str(steps).split(",")]
            if "within_seconds" in kw:
                kw["within_seconds"] = int(kw["within_seconds"])
            return analytics.funnel_latency(_df(table), names, **kw)

        self._tools.update({
            "funnel": tool_funnel,
            "funnel_latency": tool_funnel_latency,
            "gap_fill": _one_table(analytics.gap_fill_daily),
            "retention": _one_table(analytics.retention_weekly),
            "fuzzy_pairs": tool_fuzzy_pairs,
            "skew_report": tool_skew_report,
            "profile_numeric": tool_profile,
        })

        def tool_decontaminate(spark, table, benchmark, **kw):
            return dedup.decontaminate(_df(table), _df(benchmark), **kw)

        def tool_dedup_against(spark, table, reference, **kw):
            return dedup.dedup_against_reference(
                _df(table), _df(reference), **kw)

        self._tools["deterministic_sample"] = tool_sample
        self._tools["decontaminate"] = tool_decontaminate
        self._tools["dedup_against_reference"] = tool_dedup_against

        def tool_near_dup_filter(spark, table, **kw):
            from wvlet_spark.streaming import near_dup_filter_batch

            return near_dup_filter_batch(_df(table), **kw)

        self._tools["near_dup_filter"] = tool_near_dup_filter

    def register_duckdb_profile(self, prefix: str, db_path: str) -> None:
        """A real second-engine profile (the reference's `-profile duckdb`
        catalog connectors): `from <prefix>.<table>` reads <table> from a
        DuckDB database file through Arrow, staged run-scoped with the
        one-invocation-per-statement connector semantics.  The whole
        namespace registers at once — individual tables resolve lazily on
        first reference."""

        def resolver(table: str):
            quoted = '"' + table.replace('"', '""') + '"'

            def fn(spark):
                import duckdb

                con = duckdb.connect(db_path, read_only=True)
                try:
                    tbl = con.execute(f"SELECT * FROM {quoted}").arrow()
                finally:
                    con.close()
                try:
                    return spark.createDataFrame(tbl)
                except Exception:
                    return spark.createDataFrame(tbl.to_pandas())

            return fn

        self._profiles[prefix] = resolver

    def register_trino_profile(self, prefix: str, host: str, port: int = 8080,
                               user: str = "wvlet",
                               catalog: str | None = None,
                               schema: str | None = None,
                               scheme: str = "http", **client_kwargs) -> None:
        """A NETWORK catalog profile speaking the public Trino REST
        protocol (the reference's trino profile — TrinoConnector.scala):
        `from <prefix>.<table>` fetches the table over HTTP and stages it
        run-scoped with the one-invocation-per-statement connector
        semantics (SourceTableStaging.scala / QueryExecutor.scala).
        Tables resolve lazily on first reference; dotted rests
        (`prefix.schema.table`) pass through to the remote qualified
        name."""
        from wvlet_spark.connectors import TrinoHttpClient, trino_table_reader

        client = TrinoHttpClient(host, port, user=user, catalog=catalog,
                                 schema=schema, scheme=scheme,
                                 **client_kwargs)

        def resolver(table: str):
            return trino_table_reader(client, table)

        self._profiles[prefix] = resolver

    def _stage_connector(self, name: str) -> str:
        """Stage a connector's result as a run-scoped temp view, invoked at
        most once per statement no matter how many times the query
        references the name (reference: SourceTableStaging.scala /
        QueryExecutor.scala stage foreign tables into ULID-suffixed
        run-scoped tables).  The ULID suffix also isolates concurrent
        WvletSessions sharing one SparkSession."""
        staged = self._conn_staged.get(name)
        if staged is not None:
            return staged
        from wvlet_spark.analyzer import _ulid_string

        df = self._connectors[name](self.spark)
        view = ("__wv_conn_" + re.sub(r"[^A-Za-z0-9_]", "_", name)
                + "_" + _ulid_string().lower())
        df.createOrReplaceTempView(view)
        self._schema_cache[view] = df.columns
        self._conn_staged[name] = view
        return view

    def _resolve_path(self, path: str) -> str:
        if re.match(r"^[a-z0-9+.-]+://", path) or os.path.isabs(path):
            return path
        if self.file_base:
            return os.path.join(self.file_base, path)
        return path

    def _stage_file(self, node: N.FileScan) -> str:
        key = f"{node.fmt}:{node.path}"
        if key in self._file_views:
            return self._file_views[key]
        path = self._resolve_path(node.path)
        reader = self.spark.read
        if node.fmt == "wv":
            # `from 'other.wv'` runs that file's query as a relation
            # (reference: spec/basic/read-wv.wv)
            with open(path, encoding="utf-8") as f:
                stmts = self.parse(f.read())
            body = None
            for s in stmts:
                if isinstance(s, (N.ModelDef, N.FunctionDef, N.PartialQueryDef,
                                  N.TypeDef, N.ValDef)):
                    self.analyzer.register(s)
                elif isinstance(s, N.QueryStatement):
                    body = s.body
            if body is None:
                raise CompileError(f"no query found in {node.path}")
            df = self.sql_df(body)
        elif node.fmt == "json":
            # wvlet's file scans accept JSON arrays (person.json style)
            df = reader.option("multiLine", "true").json(path)
            # Spark's JSON schema inference alphabetizes fields; the
            # reference preserves the first record's key order
            # (spec/basic/select-json.wv expects id,name,age). Peek at the
            # file head for the authored order and re-project.
            order = _json_key_order(path)
            if order:
                cols = [c for c in order if c in df.columns]
                cols += [c for c in df.columns if c not in cols]
                df = df.select(*cols)
        elif node.fmt == "jsonl":
            # newline-delimited JSON: Spark's native line-per-record mode
            # (the multiLine array form above is the reference's person.json
            # shape; .jsonl/.ndjson is the training-data interchange shape)
            df = reader.json(path)
            order = _json_key_order(path)
            if order:
                cols = [c for c in order if c in df.columns]
                cols += [c for c in df.columns if c not in cols]
                df = df.select(*cols)
        elif node.fmt == "orc":
            df = reader.orc(path)
        elif node.fmt in ("csv", "tsv"):
            if node.fmt == "tsv":
                reader = reader.option("sep", "\t")
            df = reader.option("header", "true").option("inferSchema", "true").csv(path)
            # integer CSV columns infer as int; the reference infers 64-bit
            # (spec/basic/select-csv.wv expects `long`)
            from pyspark.sql import functions as F
            from pyspark.sql.types import IntegerType
            df = df.select(*[
                F.col(f.name).cast("bigint").alias(f.name)
                if isinstance(f.dataType, IntegerType) else F.col(f.name)
                for f in df.schema.fields
            ])
        else:
            df = reader.parquet(path)
        self._view_n += 1
        view = f"__wv_file_{self._view_n}"
        df.createOrReplaceTempView(view)
        self._file_views[key] = view
        self._file_views[node.path] = view
        self._schema_cache[view] = df.columns
        return view

    def _stage_show(self, node: N.Show) -> str:
        from pyspark.sql.types import StringType, StructField, StructType

        spark = self.spark
        kind = node.kind
        # column names follow the reference's show-* output
        # (spec/basic/show-tables.wv: ['name'], show-schemas.wv:
        # ['catalog', 'name'], show-catalogs.wv: ['name'])
        if kind == "tables":
            target = node.in_target.split(".")[-1] if node.in_target else None
            try:
                # internal staging views (__wv_*) are not user tables
                rows = [(t.name,) for t in spark.catalog.listTables(target)
                        if not t.name.startswith("__wv_")]
            except Exception:
                # `show tables in memory.main` — unknown schema lists empty
                rows = []
            schema = StructType([StructField("name", StringType())])
        elif kind == "schemas":
            cat = spark.catalog.currentCatalog()
            rows = [(cat, d.name) for d in spark.catalog.listDatabases()]
            schema = StructType(
                [StructField("catalog", StringType()), StructField("name", StringType())])
        elif kind == "catalogs":
            rows = [(c.name,) for c in spark.catalog.listCatalogs()]
            schema = StructType([StructField("name", StringType())])
        elif kind == "models":
            rows = [(m,) for m in sorted(self.analyzer.models)]
            schema = StructType([StructField("name", StringType())])
        elif kind == "functions":
            rows = [(f.name,) for f in spark.catalog.listFunctions()]
            schema = StructType([StructField("function_name", StringType())])
        elif kind == "query":
            # show query <model> (reference: spec/basic/show-query.wv)
            mdl = self.analyzer.models.get(node.in_target)
            if mdl is None:
                raise CompileError(f"unknown model: {node.in_target}")
            sql = self._gen_sql(mdl.body, SPARK)
            rows = [(node.in_target, sql)]
            schema = StructType(
                [StructField("name", StringType()), StructField("query", StringType())])
        elif kind == "columns":
            target = node.in_target or ""
            rows = [(c.name, c.dataType) for c in spark.catalog.listColumns(target)]
            schema = StructType(
                [StructField("column_name", StringType()), StructField("data_type", StringType())]
            )
        else:
            raise CompileError(f"unsupported show kind: {kind}")
        if node.like:
            pat = re.compile("^" + node.like.replace("%", ".*").replace("_", ".") + "$", re.I)
            rows = [r for r in rows if pat.match(r[0])]
        df = spark.createDataFrame(rows, schema)
        self._view_n += 1
        view = f"__wv_show_{self._view_n}"
        df.createOrReplaceTempView(view)
        self._schema_cache[view] = df.columns
        return df and view

    def _stage_subscribe(self, node: N.Subscribe) -> N.Relation:
        """Batch incremental read: rows with wm < ts <= wm + window.
        (reference semantics: website/docs/index.md incremental processing)"""
        from wvlet_spark.streaming import subscribe_filter

        return subscribe_filter(self, node)

    # ------------------------------------------------------------- execute

    def run(self, text: str, params: list | tuple | dict | None = None):
        """Execute all statements; return the last result DataFrame (or None).
        `params` binds prepared-statement parameters (`?` / `$1`
        positionally from a list, `$name` from a dict)."""
        stmts = self.parse(text)
        result = None
        self.last_test_results = []
        for stmt in stmts:
            result = self._run_stmt(stmt, params=params) or result
        return result

    def _run_stmt(self, stmt: N.Statement, params=None):
        # connector staging is statement-scoped: a new statement sees fresh
        # connector data (one invocation), and the previous statement's
        # run-scoped views are dropped
        if self._conn_staged and self.spark is not None:
            for view in self._conn_staged.values():
                try:
                    self.spark.catalog.dropTempView(view)
                except Exception:
                    pass
                # keep the schema caches in lockstep with the catalog:
                # dead staged-view names would otherwise accumulate across
                # statements and degrade column_type() scans over a long
                # session (each dead entry costs a caught spark.table()
                # failure per lookup)
                self._schema_cache.pop(view, None)
            self._conn_staged.clear()
            self._coltype_cache.clear()
        if isinstance(stmt, (N.SaveTo, N.AppendTo, N.DeleteStmt, N.InsertStmt,
                             N.TruncateStmt, N.ExecuteStmt)):
            # table contents are about to change — footer stats go stale
            self._tstats_cache.clear()
        if isinstance(stmt, (N.ModelDef, N.FunctionDef, N.PartialQueryDef, N.TypeDef)):
            self.analyzer.register(stmt)
            return None
        if isinstance(stmt, N.DeallocateStmt):
            if self.analyzer.models.pop(stmt.name, None) is None:
                raise CompileError(f"unknown model: {stmt.name}")
            return None
        if isinstance(stmt, N.ValDef):
            self.analyzer.register(stmt)
            return None
        if isinstance(stmt, N.ImportStmt):
            return None
        if isinstance(stmt, N.UseStmt):
            # switch the current database when it exists; otherwise record
            # the context (connector/catalog names have no Spark analogue)
            self.current_context = stmt.target
            try:
                db = stmt.target.split(".")[-1]
                if self.spark is not None and any(
                        d.name == db for d in self.spark.catalog.listDatabases()):
                    self.spark.catalog.setCurrentDatabase(db)
            except Exception:
                pass
            return None
        if isinstance(stmt, N.QueryStatement):
            body = _bind_prepared_params(stmt.body, params) \
                if params is not None else stmt.body
            if isinstance(body, N.AliasedRelation) and body.from_select_as:
                # `select as name` names the query result for later
                # statements (reference spec/basic/select-as.wv)
                self.analyzer.register(N.ModelDef(body.alias, [], body.child))
                body = body.child
            df = self.sql_df(body, params=params)
            if self.test_mode and stmt.tests:
                from wvlet_spark.testing import evaluate_tests

                self.last_test_results.extend(evaluate_tests(df, stmt.tests))
            return df
        if isinstance(stmt, N.SaveTo):
            df = self.sql_df(stmt.child)
            if stmt.is_file:
                self._write_file(df, stmt.target, mode="overwrite",
                                 options=stmt.options)
            else:
                self.spark.sql(f"DROP TABLE IF EXISTS {stmt.target}")
                self._clean_orphan_location(stmt.target)
                w = self._apply_write_options(
                    df.write.mode("overwrite"), stmt.options)
                w.saveAsTable(stmt.target)
                self._schema_cache[stmt.target] = df.columns
            return None
        if isinstance(stmt, N.AppendTo):
            df = self.sql_df(stmt.child)
            if stmt.is_file:
                self._write_file(df, stmt.target, mode="append")
            else:
                exists = self.spark.catalog.tableExists(stmt.target)
                df.write.mode("append" if exists else "overwrite").saveAsTable(stmt.target)
            return None
        if isinstance(stmt, N.DeleteStmt):
            return self._run_delete(stmt)
        if isinstance(stmt, N.InsertStmt):
            return self._run_insert(stmt)
        if isinstance(stmt, N.TruncateStmt):
            self.spark.sql(f"TRUNCATE TABLE {stmt.table}")
            return None
        if isinstance(stmt, N.ExecuteStmt):
            return self.spark.sql(stmt.sql)
        if isinstance(stmt, N.ExplainStmt):
            if stmt.sql is not None:
                return self.spark.sql(f"EXPLAIN {stmt.sql}")
            sql = self._gen_sql(stmt.body, SPARK)
            return self.spark.sql(f"EXPLAIN FORMATTED {sql}")
        if isinstance(stmt, N.FlowDef):
            # wiring errors surface at declaration, not first run
            self.flow_executor.validate(stmt)
            self._flows[stmt.name] = stmt
            return None
        if isinstance(stmt, N.RunFlowStmt):
            return self._run_flow(stmt)
        if isinstance(stmt, N.CallToolStmt):
            if not self._builtin_tools_loaded:
                registered, self._tools = self._tools, {}
                try:
                    self._register_builtin_tools()
                finally:
                    self._tools.update(registered)  # registered names win
                self._builtin_tools_loaded = True
            if stmt.name not in self._tools:
                raise CompileError(f"unknown tool: {stmt.name}")
            kwargs = {}
            for k, v in stmt.args.items():
                kwargs[k] = v.value if isinstance(v, N.Literal) else v
            return self._tools[stmt.name](self.spark, **kwargs)
        raise CompileError(f"cannot execute statement {type(stmt).__name__}")

    # ------------------------------------------------------------- flows

    @property
    def flow_executor(self):
        if self._flow_executor is None:
            from wvlet_spark.flows import FlowExecutor

            self._flow_executor = FlowExecutor(self)
        return self._flow_executor

    def _run_flow(self, stmt: N.RunFlowStmt):
        if stmt.name not in self._flows:
            raise CompileError(f"undefined flow {stmt.name!r}")
        flow = self._flows[stmt.name]
        ex = self.flow_executor
        args = {k: ex._const(v, None) for k, v in stmt.args.items()}
        # positional args bind to flow params in declaration order
        for i, v in enumerate(stmt.pos_args):
            if i < len(flow.params):
                pname = flow.params[i][0] if isinstance(flow.params[i], tuple) \
                    else getattr(flow.params[i], "name", None)
                if pname and pname not in args:
                    args[pname] = ex._const(v, None)
        summary = ex.run(flow, args, resume_run_id=stmt.resume_run_id)
        from pyspark.sql.types import (IntegerType, StringType, StructField,
                                       StructType)

        schema = StructType([
            StructField("stage", StringType()),
            StructField("state", StringType()),
            StructField("attempts", IntegerType()),
            StructField("error", StringType()),
            StructField("run_id", StringType()),
        ])
        rows = [(s["stage"], s["state"], s["attempts"], s["error"], s["run_id"])
                for s in summary]
        df = self.spark.createDataFrame(rows, schema)
        if stmt.pipe is not None or stmt.tests:
            from wvlet_spark.parser import _HoleRelation

            self._view_n += 1
            view = f"__wv_flowrun_{self._view_n}"
            df.createOrReplaceTempView(view)
            self._schema_cache[view] = df.columns
            if stmt.pipe is not None:
                def fill(n):
                    return N.TableRef(view) if isinstance(n, _HoleRelation) else n
                df = self.sql_df(transform(stmt.pipe, rel_fn=fill))
            if self.test_mode and stmt.tests:
                from wvlet_spark.testing import evaluate_tests

                self.last_test_results.extend(evaluate_tests(df, stmt.tests))
        return df

    def expr_sql(self, e: N.Expr) -> str:
        """Render one expression to Spark-dialect SQL text."""
        return SqlGenerator(self._make_ctx(SPARK)).expr(e)

    def df_for_relation(self, rel: N.Relation, params: dict | None = None):
        """Lower a relation to a DataFrame, with flow/model parameters
        substituted for same-named identifiers (params shadow columns,
        matching the reference's model-arg binding)."""
        if params:
            rel = _substitute_idents(rel, params)
        return self.sql_df(rel)

    def sql_df(self, rel: N.Relation, params=None):
        # run debug side-channels eagerly (they print, input passes through)
        self._run_debugs(rel)
        # describe nodes (top-level or mid-pipe) materialize the child's
        # schema driver-side: (column_name, column_type) with wvlet type
        # names — reference: spec/basic/describe.wv. Schema comes from
        # Spark's analyzer only (no job runs).
        if _contains_describe(rel):
            rel = transform(rel, rel_fn=self._stage_describe)
        rel = self._stage_agg_in_subqueries(rel, params)
        rel = self._stage_multi_ref_ctes(rel, params)
        sql = self._gen_sql(rel, SPARK, params=params)
        try:
            return self.spark.sql(sql)
        except Exception as ex:
            # raw sql"..." blocks may use ANSI double-quoted identifiers
            # (`select 1 as "id"`, spec/basic/triple-quote.wv); Spark parses
            # them only with this conf, so retry once with it on
            if "PARSE_SYNTAX_ERROR" not in str(ex) or '"' not in sql:
                raise
            conf = self.spark.conf
            old = conf.get("spark.sql.ansi.doubleQuotedIdentifiers", "false")
            try:
                conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
                return self.spark.sql(sql)
            finally:
                conf.set("spark.sql.ansi.doubleQuotedIdentifiers", old)

    def _stage_agg_in_subqueries(self, rel: N.Relation,
                                 params=None) -> N.Relation:
        """Materialize uncorrelated aggregate IN-subqueries once.

        Catalyst propagates `x IN (<subquery>)` across join equality
        constraints (InferFiltersFromConstraints), planting the subquery's
        semi-join — and with it the whole aggregation pipeline — on BOTH
        sides of the join.  TPC-H Q18 is the canonical victim: lineitem is
        scanned and re-aggregated twice, once under orders and once under
        lineitem itself.  Early filtering on both scans is the right call
        at 100 TB, but re-running the aggregate is not: stage the subquery
        as a lazily localCheckpoint-ed temp view, so every inferred copy
        of the semi-join probes the SAME materialized (usually tiny) key
        list and the aggregation runs exactly once.

        Correlated subqueries reference outer columns and fail analysis
        when compiled standalone — the except leaves them inline, where
        Catalyst's decorrelation handles them.  Subqueries that reference
        a CTE declared by the statement are also left inline: compiled
        standalone, a CTE name that shadows a real table would silently
        resolve to the TABLE (wrong relation), so any name collision
        disqualifies staging."""
        import dataclasses

        from wvlet_spark.analyzer import transform as ast_transform

        cte_names: set[str] = set()

        def collect_ctes(x):
            if isinstance(x, N.WithQuery):
                for name, _q in x.defs:
                    cte_names.add(name.lower())
            if dataclasses.is_dataclass(x) and not isinstance(x, type):
                for f in dataclasses.fields(x):
                    collect_ctes(getattr(x, f.name))
            elif isinstance(x, (list, tuple)):
                for i in x:
                    collect_ctes(i)

        collect_ctes(rel)

        def refs_cte(sub: N.Relation) -> bool:
            hit = False

            def walk(x):
                nonlocal hit
                if hit:
                    return
                if isinstance(x, N.TableRef) and x.name.lower() in cte_names:
                    hit = True
                    return
                if dataclasses.is_dataclass(x) and not isinstance(x, type):
                    for f in dataclasses.fields(x):
                        walk(getattr(x, f.name))
                elif isinstance(x, (list, tuple)):
                    for i in x:
                        walk(i)

            walk(sub)
            return hit

        def expr_fn(e: N.Expr) -> N.Expr:
            if not isinstance(e, N.InSubquery):
                return e
            if not _tree_contains(e.query, (N.GroupBy, N.Agg, N.Dedup,
                                            N.CountRel)):
                return e
            if cte_names and refs_cte(e.query):
                return e
            try:
                sub_sql = self._gen_sql(e.query, SPARK, params=params)
                df = self.spark.sql(sub_sql).localCheckpoint(eager=False)
            except Exception:
                return e
            self._view_n += 1
            view = f"__wv_insub_{self._view_n}"
            df.createOrReplaceTempView(view)
            self._schema_cache[view] = df.columns
            return N.InSubquery(e.expr, N.TableRef(view), e.negated)

        return ast_transform(rel, expr_fn=expr_fn)

    def _stage_multi_ref_ctes(self, rel: N.Relation,
                              params=None) -> N.Relation:
        """Materialize an aggregate CTE that is referenced MORE THAN ONCE.

        Spark inlines CTEs, so `with perf as { ...group by... }` consumed
        by two branches (the TPC-DS q44 best/worst shape) scans and
        re-aggregates the source once PER REFERENCE — AQE's runtime stage
        reuse did not fire on the q44 plan (measured: 2 shuffle stages,
        3 scans).  Stage the CTE as a lazily localCheckpoint-ed temp view
        instead, the same move `_stage_agg_in_subqueries` makes for Q18:
        the aggregation runs once and both branches probe the
        materialized result.  This is what DuckDB/Trino do by default for
        multiply-referenced CTEs.

        Only aggregate-bearing CTEs qualify (materializing a plain filter
        would defeat outer filter pushdown into the scan); single-ref
        CTEs stay inline (inlining is strictly better — pushdown still
        applies).  Defs are processed in declaration order so a later
        def's body may reference an earlier STAGED view.  Shadowed names
        (any CTE name defined twice in the statement) disqualify staging
        for that name — a standalone compile could bind the wrong
        relation.  Recursive WITH blocks are left untouched."""
        import dataclasses

        # count every CTE definition by name across the whole tree (a
        # nested WITH could shadow an outer name)
        def_counts: dict[str, int] = {}

        def count_defs(x):
            if isinstance(x, N.WithQuery):
                for name, _q in x.defs:
                    def_counts[name.lower()] = \
                        def_counts.get(name.lower(), 0) + 1
            if dataclasses.is_dataclass(x) and not isinstance(x, type):
                for f in dataclasses.fields(x):
                    count_defs(getattr(x, f.name))
            elif isinstance(x, (list, tuple)):
                for i in x:
                    count_defs(i)

        count_defs(rel)

        def count_refs(x, name: str) -> int:
            n = 0
            if isinstance(x, N.TableRef) and x.name.lower() == name:
                n += 1
            if dataclasses.is_dataclass(x) and not isinstance(x, type):
                for f in dataclasses.fields(x):
                    n += count_refs(getattr(x, f.name), name)
            elif isinstance(x, (list, tuple)):
                for i in x:
                    n += count_refs(i, name)
            return n

        def rename_refs(x, name: str, view: str, orig: str):
            """TableRef(name) -> AliasedRelation(TableRef(view), orig):
            the ORIGINAL name must survive as an explicit alias, because
            a bare `FROM cte` makes the cte name the implicit alias for
            qualified refs (`cte.col` — TPC-DS q47/57/59 regression when
            the first version renamed in place).  An explicitly aliased
            reference (`cte AS x`) keeps its own alias: the bottom-up
            rewrite collapses the doubled alias node."""
            from wvlet_spark.analyzer import transform as ast_transform

            def rel_fn(n):
                if isinstance(n, N.TableRef) and n.name.lower() == name:
                    return N.AliasedRelation(N.TableRef(view), orig)
                if isinstance(n, N.AliasedRelation) \
                        and isinstance(n.child, N.AliasedRelation) \
                        and n.child.alias == orig \
                        and isinstance(n.child.child, N.TableRef) \
                        and n.child.child.name == view:
                    return dataclasses.replace(n, child=n.child.child)
                return n

            return ast_transform(x, rel_fn=rel_fn)

        if not isinstance(rel, N.WithQuery) or rel.recursive:
            return rel
        kept_defs: list[tuple[str, N.Relation]] = []
        defs = list(rel.defs)
        body = rel.body
        for i, (name, q) in enumerate(defs):
            later_defs = defs[i + 1:]
            nrefs = sum(count_refs(x, name.lower())
                        for x in [d[1] for d in later_defs] + [body])
            # a body referencing an earlier KEPT (inline) def cannot be
            # compiled standalone — its name would bind to a real table
            # or fail analysis
            refs_kept = any(count_refs(q, kn.lower()) for kn, _ in kept_defs)
            if (nrefs < 2
                    or refs_kept
                    or def_counts.get(name.lower(), 0) > 1
                    or not _tree_contains(q, (N.GroupBy, N.Agg, N.Dedup,
                                              N.CountRel))):
                kept_defs.append((name, q))
                continue
            try:
                sub_sql = self._gen_sql(q, SPARK, params=params)
                df = self.spark.sql(sub_sql).localCheckpoint(eager=False)
            except Exception:
                kept_defs.append((name, q))
                continue
            self._view_n += 1
            view = f"__wv_cte_{self._view_n}"
            df.createOrReplaceTempView(view)
            self._schema_cache[view] = df.columns
            for j, (dn, dq) in enumerate(later_defs):
                defs[i + 1 + j] = (dn, rename_refs(dq, name.lower(),
                                                   view, name))
            body = rename_refs(body, name.lower(), view, name)
        if not kept_defs:
            return body
        return N.WithQuery(kept_defs, body, rel.recursive)

    def _stage_describe(self, node: N.Relation) -> N.Relation:
        if isinstance(node, N.DescribePrepared):
            return self._stage_describe_prepared(node)
        if not isinstance(node, N.Describe):
            return node
        from wvlet_spark.printer import _type_name

        inner_sql = self._gen_sql(node.child, SPARK)
        schema = self.spark.sql(inner_sql).schema
        rows = [(f.name, _type_name(f.dataType)) for f in schema.fields]
        df = self.spark.createDataFrame(
            rows, "column_name string, column_type string")
        self._view_n += 1
        view = f"__wv_desc_{self._view_n}"
        df.createOrReplaceTempView(view)
        self._schema_cache[view] = df.columns
        return N.TableRef(view)

    def _stage_describe_prepared(self, node: N.DescribePrepared
                                 ) -> N.Relation:
        """describe input|output <model>: Trino prepared-statement
        introspection over this engine's model registry.  INPUT lists
        parameter positions (type `unknown` — parameters are untyped until
        bound, as in Trino); OUTPUT resolves the body's schema through
        Spark's analyzer with parameters null-bound (no job runs)."""
        from copy import deepcopy

        from wvlet_spark.analyzer import transform as ast_transform

        mdl = self.analyzer.models.get(node.name)
        if mdl is None:
            raise CompileError(f"unknown prepared statement / model: "
                               f"{node.name}")
        if node.kind == "input":
            seen: list[tuple[int, str]] = []
            order: dict[str, int] = {}

            def collect(n):
                if isinstance(n, N.Param):
                    key = n.name if n.kind == "name" else str(n.index)
                    if key not in order:
                        pos = n.index if n.kind in ("index", "anon") \
                            and n.index else len(order) + 1
                        order[key] = pos
                        seen.append((pos, "unknown"))
                return n

            ast_transform(mdl.body, expr_fn=collect)
            for i, (pname, ptype, _d) in enumerate(mdl.params or []):
                seen.append((i + 1, ptype or "unknown"))
            rows = sorted(set(seen)) or []
            df = self.spark.createDataFrame(
                rows, "position int, type string") if rows else \
                self.spark.createDataFrame([], "position int, type string")
        else:
            from wvlet_spark.printer import _type_name

            def null_bind(n):
                if isinstance(n, N.Param):
                    return N.Literal(None, "null")
                return n

            body = ast_transform(deepcopy(mdl.body), expr_fn=null_bind)
            body = self.analyzer.resolve(body, (node.name,))
            schema = self.spark.sql(self._gen_sql(body, SPARK)).schema
            rows = [(f.name, _type_name(f.dataType)) for f in schema.fields]
            df = self.spark.createDataFrame(
                rows, "column_name string, column_type string")
        self._view_n += 1
        view = f"__wv_desc_{self._view_n}"
        df.createOrReplaceTempView(view)
        self._schema_cache[view] = df.columns
        return N.TableRef(view)

    def _run_debugs(self, rel: N.Relation) -> None:
        debugs: list[N.Debug] = []

        def rel_fn(node):
            if isinstance(node, N.Debug):
                debugs.append(node)
            return node

        transform(rel, rel_fn=rel_fn)
        for d in debugs:
            body = d.body if d.body is not None else d.child
            try:
                from wvlet_spark.parser import _HoleRelation

                def fill(n):
                    return d.child if isinstance(n, _HoleRelation) else n

                from wvlet_spark.parser import _SaveMarker

                if isinstance(body, _SaveMarker):
                    # a save inside debug executes for real — the main pipe
                    # continues unaffected (spec/basic/debug-save.wv).
                    # (_SaveMarker is not a dataclass, so fill its child
                    # explicitly — transform() does not descend into it.)
                    child = transform(body.child, rel_fn=fill)
                    self._run_stmt(N.SaveTo(
                        child, body.target, body.is_file, body.options, []))
                    continue
                body = transform(body, rel_fn=fill)
                df = self.spark.sql(self._gen_sql(body, SPARK))
                df.show(20, truncate=False)
            except Exception as ex:  # debug must never fail the main query
                print(f"[debug] failed: {ex}")

    def _clean_orphan_location(self, target: str) -> None:
        """Remove a leftover managed-table directory after DROP TABLE: an
        interrupted earlier run can leave the warehouse dir behind, and
        saveAsTable then fails with LOCATION_ALREADY_EXISTS."""
        import shutil

        try:
            wh = self.spark.conf.get("spark.sql.warehouse.dir", "")
            wh = re.sub(r"^file:(//)?", "", wh)
            if not wh or not os.path.isdir(wh):
                return
            parts = target.split(".")
            table = parts[-1].lower()
            db = parts[-2].lower() if len(parts) > 1 else None
            cands = [os.path.join(wh, table)]
            if db:
                cands.append(os.path.join(wh, f"{db}.db", table))
            for p in cands:
                if os.path.isdir(p) and not self.spark.catalog.tableExists(target):
                    shutil.rmtree(p, ignore_errors=True)
        except Exception:
            pass

    def _apply_write_options(self, writer, options: dict | None):
        """`save to ... with (k: v, ...)` options (reference
        spec/basic/update/save-with-options.wv + spec/td-trino/
        create-table-with.wv): `partition_by` becomes a partitioned layout
        (the 100 TB essential — downstream reads prune partitions),
        `bucketed_on`/`bucket_count` become Spark bucketing (co-located
        joins/aggregations on the bucket key skip their shuffle),
        `compression` and any other scalar pass through as DataSource
        write options."""
        bucket_cols: list[str] | None = None
        bucket_count: int | None = None
        for key, val in (options or {}).items():
            if isinstance(val, N.Literal):
                val = val.value
            elif isinstance(val, N.ArrayCtor):
                val = [i.value if isinstance(i, N.Literal) else str(i)
                       for i in val.items]
            if key == "partition_by":
                cols = val if isinstance(val, list) else [val]
                writer = writer.partitionBy(*[str(c) for c in cols])
            elif key == "bucketed_on":
                bucket_cols = [str(c) for c in
                               (val if isinstance(val, list) else [val])]
            elif key == "bucket_count":
                bucket_count = int(val)
            elif key == "row_group_size":
                # rows in the reference's engine; Spark's closest knob is
                # the parquet block size in bytes — approximate at ~100B/row
                writer = writer.option("parquet.block.size",
                                       int(val) * 100)
            else:
                writer = writer.option(str(key), val)
        if bucket_cols:
            # sortBy within buckets keeps bucket files merge-join friendly
            writer = writer.bucketBy(bucket_count or 8, *bucket_cols) \
                .sortBy(*bucket_cols)
        return writer

    def _write_file(self, df, path: str, mode: str,
                    options: dict | None = None) -> None:
        path = self._resolve_path(path)
        fmt = _infer_format(path)
        w = self._apply_write_options(df.write.mode(mode), options)
        if fmt == "csv":
            w.option("header", "true").csv(path)
        elif fmt == "tsv":
            w.option("header", "true").option("sep", "\t").csv(path)
        elif fmt in ("json", "jsonl"):
            w.json(path)
        elif fmt == "orc":
            w.orc(path)
        else:
            w.parquet(path)

    def _run_insert(self, stmt: N.InsertStmt):
        df = self.sql_df(stmt.body)
        if stmt.columns:
            df = df.toDF(*stmt.columns)
            if self.spark.catalog.tableExists(stmt.target):
                # fill unmentioned target columns with NULLs, in table order
                from pyspark.sql import functions as F

                tcols = self.spark.table(stmt.target).columns
                df = df.select(*[
                    F.col(c) if c in stmt.columns else F.lit(None).alias(c)
                    for c in tcols
                ])
        # Hive partition-write hints -> repartition / sortWithinPartitions
        if stmt.cluster_by:
            df = df.repartition(*stmt.cluster_by).sortWithinPartitions(*stmt.cluster_by)
        else:
            if stmt.distribute_by:
                df = df.repartition(*stmt.distribute_by)
            if stmt.sort_by:
                from pyspark.sql import functions as F

                # entries may carry a direction: "year desc"
                keys = []
                for s in stmt.sort_by:
                    name, _, direction = s.partition(" ")
                    col = F.col(name)
                    keys.append(col.desc() if direction == "desc" else col)
                df = df.sortWithinPartitions(*keys)
        exists = self.spark.catalog.tableExists(stmt.target)
        mode = "overwrite" if (stmt.overwrite or not exists) else "append"
        if exists and stmt.overwrite:
            self.spark.sql(f"DROP TABLE IF EXISTS {stmt.target}")
        df.write.mode(mode).saveAsTable(stmt.target)
        self._schema_cache[stmt.target] = df.columns
        return None

    def _run_delete(self, stmt: N.DeleteStmt):
        # peel filters down to the base table
        conds: list[N.Expr] = []
        node = stmt.child
        while isinstance(node, N.Filter):
            conds.append(node.cond)
            node = node.child
        if not isinstance(node, N.TableRef):
            raise CompileError("delete requires a filtered table pipeline")
        table = node.name
        gen = SqlGenerator(self._make_ctx(SPARK))
        from wvlet_spark import acid

        if acid.supports_sql_delete(self.spark, table):
            # Delta/Iceberg target: native transactional DELETE — no
            # table rewrite, no lineage break needed
            cond = " AND ".join(f"({gen.expr(c)})" for c in conds) or None
            self.spark.sql(acid.delete_sql(table, cond))
            return None
        keep = " AND ".join(f"NOT ({gen.expr(c)})" for c in conds) if conds else "FALSE"
        remaining = self.spark.sql(f"SELECT * FROM {table} WHERE {keep}")
        # Break plan lineage before overwriting the relation we read from:
        # cache() keeps the logical plan (Spark rejects overwrite-while-read,
        # and a temp view would shadow the written table entirely).
        remaining = remaining.localCheckpoint(eager=True)
        is_temp = False
        try:
            is_temp = self.spark.catalog.getTable(table).tableType == "TEMPORARY"
        except Exception:
            pass
        if is_temp:
            remaining.createOrReplaceTempView(table)
        else:
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
            remaining.write.mode("overwrite").saveAsTable(table)
        return None

    # ------------------------------------------------------------- oracle

    def oracle_sql(self, text: str) -> str:
        """DuckDB-dialect SQL for the same query (for cross-checking)."""
        return self.compile_to_sql(text, dialect=DUCKDB)


def _parse_byte_conf(v) -> int | None:
    """Spark size-conf string -> bytes ("10485760", "10MB", "10m", "-1");
    None when unparseable.  Bare numbers are bytes (Spark's convention
    for autoBroadcastJoinThreshold)."""
    import re

    if v is None:
        return None
    s = str(v).strip().lower()
    m = re.fullmatch(r"(-?\d+)\s*([kmgtp]?b?)", s)
    if m is None:
        return None
    n = int(m.group(1))
    unit = m.group(2).rstrip("b")
    shift = {"": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}[unit]
    return n << shift if n >= 0 else n


def _tree_contains(rel, types: tuple) -> bool:
    import dataclasses

    found = False

    def walk(x):
        nonlocal found
        if found:
            return
        if isinstance(x, types):
            found = True
            return
        if dataclasses.is_dataclass(x) and not isinstance(x, type):
            for f in dataclasses.fields(x):
                walk(getattr(x, f.name))
        elif isinstance(x, (list, tuple)):
            for i in x:
                walk(i)

    walk(rel)
    return found


def _contains_describe(rel) -> bool:
    return _tree_contains(rel, (N.Describe, N.DescribePrepared))


def _json_key_order(path: str) -> list[str] | None:
    """First record's key order from a local JSON/JSONL file (None if the
    path isn't a readable local file — remote files keep Spark's order)."""
    import gzip
    import json

    if os.path.isdir(path):
        # Spark writes json as a directory of part files — peek at one
        parts = sorted(f for f in os.listdir(path)
                       if f.startswith("part-") and not f.endswith(".crc"))
        if not parts:
            return None
        path = os.path.join(path, parts[0])
    if not os.path.isfile(path):
        return None
    try:
        opener = gzip.open if path.endswith(".gz") else open
        with opener(path, "rt", encoding="utf-8", errors="replace") as f:
            head = f.read(1 << 16)
        start = head.find("{")
        if start < 0:
            return None
        obj, _ = json.JSONDecoder(object_pairs_hook=list).raw_decode(head[start:])
        return [k for k, _v in obj]
    except Exception:
        return None


def _bind_prepared_params(rel: N.Relation, params: list | tuple | dict):
    """Replace Param nodes with literal values: `?`/`$1` bind positionally
    from a list/tuple (1-origin), `$name` from a dict."""
    from wvlet_spark.analyzer import transform

    def lit(v):
        if v is None:
            return N.Literal(None, "null")
        if isinstance(v, bool):
            return N.Literal(v, "bool")
        if isinstance(v, int):
            return N.Literal(v, "int")
        if isinstance(v, float):
            return N.Literal(v, "float")
        return N.Literal(str(v), "string")

    def expr_fn(node):
        if not isinstance(node, N.Param):
            return node
        if node.kind == "name":
            if not isinstance(params, dict) or node.name not in params:
                raise CompileError(f"missing value for parameter ${node.name}")
            return lit(params[node.name])
        if isinstance(params, dict):
            if node.index in params:
                return lit(params[node.index])
            raise CompileError(f"missing value for parameter #{node.index}")
        if 1 <= node.index <= len(params):
            return lit(params[node.index - 1])
        raise CompileError(f"missing value for parameter #{node.index} "
                           f"(got {len(params)} values)")

    return transform(rel, expr_fn=expr_fn)


def _substitute_idents(rel: N.Relation, params: dict):
    """Deep-copy rewrite replacing Ident(name) with a literal for every
    bound parameter name."""
    import copy

    def lit(v):
        kind = ("null" if v is None else "int" if isinstance(v, bool) is False
                and isinstance(v, int) else "float" if isinstance(v, float)
                else "string")
        return N.Literal(v, kind)

    def walk(node):
        if isinstance(node, N.Ident) and node.name in params:
            return lit(params[node.name])
        if node is None or not hasattr(node, "__dataclass_fields__"):
            return node
        node = copy.copy(node)
        for f in node.__dataclass_fields__:
            v = getattr(node, f)
            if isinstance(v, list):
                setattr(node, f, [walk(i) if hasattr(i, "__dataclass_fields__") else i for i in v])
            elif hasattr(v, "__dataclass_fields__"):
                setattr(node, f, walk(v))
        return node

    return walk(rel)


def compile_to_sql(text: str, dialect: str = SPARK) -> str:
    return WvletSession(spark=None).compile_to_sql(text, dialect)


def read_parquet_robust(spark, path: str):
    """spark.read.parquet with a workaround for TIMESTAMP(NANOS) columns,
    which Spark's parquet reader rejects: read nanos as long
    (spark.sql.legacy.parquet.nanosAsLong) and convert to timestamp columns
    losslessly at microsecond precision. Stays fully distributed — the
    conversion is a projected expression, not a driver-side rewrite."""
    ns_cols: list[str] = []
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        schema = pq.read_schema(path)
        for f in schema:
            if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns":
                ns_cols.append(f.name)
    except Exception:
        pass
    if not ns_cols:
        return spark.read.parquet(path)
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        from pyspark.sql import functions as F

        for c in ns_cols:
            df = df.withColumn(c, F.expr(f"timestamp_micros(CAST(`{c}` DIV 1000 AS LONG))"))
        return df
    except Exception:
        # fallback: arrow-side conversion (driver memory; small tables only)
        import pyarrow.parquet as pq

        tbl = pq.read_table(path)
        pdf = tbl.to_pandas()
        return spark.createDataFrame(pdf)


def _infer_format(path: str) -> str:
    # single source of truth with the scan side (from 'file.X')
    from wvlet_spark.parser import _infer_format as scan_infer
    return scan_infer(path)
