"""Recursive-descent parser for the wvlet language.

A fresh implementation of the grammar documented in the reference's
website/docs/syntax/ pages and exercised by its spec corpus
(wvlet-lang compiler/parser/WvletParser.scala is the reference parser;
this is a new Python implementation of the same surface language).
"""

from __future__ import annotations

from wvlet_spark.lexer import Token, WvletSyntaxError, tokenize
from wvlet_spark import nodes as N


def _join_type_tokens(toks: "list[str]") -> str:
    """Render type tokens without spaces around punctuation:
    ['a', 'struct', '(', 'b', 'int', ')'] -> 'a struct(b int)'."""
    out = ""
    for t in toks:
        if t in ("(", "[", ")", "]", ","):
            out += t
        else:
            out += (" " if out and out[-1] not in "([" else "") + t
    return out

# Pipe operators that begin a new relational op inside a query pipeline.
PIPE_KEYWORDS = {
    "where", "select", "agg", "group", "order", "limit", "offset", "add",
    "prepend", "exclude", "rename", "shift", "transform", "dedup", "count",
    "sample", "join", "left", "right", "full", "inner", "cross", "asof",
    "concat", "intersect", "except", "pivot", "unpivot", "test", "describe",
    "debug", "save", "append", "delete", "distinct", "unnest", "with",
}

STATEMENT_KEYWORDS = {
    "from", "model", "def", "val", "type", "import", "show", "execute",
    "with", "select", "explain", "truncate", "flow", "run",
}


class Parser:
    def __init__(self, text: str):
        self.text = text
        self.tokens = tokenize(text)
        self.pos = 0
        self._eof = len(self.tokens) - 1

    # -- token helpers ------------------------------------------------------

    def peek(self, offset: int = 0) -> Token:
        # the parser's hottest call: an index past the end reads EOF
        i = self.pos + offset
        return self.tokens[i if i < self._eof else self._eof]

    def at_kw(self, *words: str, offset: int = 0) -> bool:
        t = self.peek(offset)
        return t.kind == "IDENT" and t.text in words

    def at_op(self, *ops: str, offset: int = 0) -> bool:
        t = self.peek(offset)
        return t.kind == "OP" and t.text in ops

    def next(self) -> Token:
        t = self.tokens[self.pos]
        if t.kind != "EOF":
            self.pos += 1
        return t

    def expect_kw(self, word: str) -> Token:
        if not self.at_kw(word):
            t = self.peek()
            raise WvletSyntaxError(f"expected '{word}' but found {t.text!r}", t.line, t.col)
        return self.next()

    def expect_op(self, op: str) -> Token:
        if not self.at_op(op):
            t = self.peek()
            raise WvletSyntaxError(f"expected {op!r} but found {t.text!r}", t.line, t.col)
        return self.next()

    def expect_ident(self) -> str:
        t = self.peek()
        if t.kind in ("IDENT", "BQIDENT"):
            self.next()
            return t.text
        raise WvletSyntaxError(f"expected identifier but found {t.text!r}", t.line, t.col)

    def eof(self) -> bool:
        return self.peek().kind == "EOF"

    def expect_int(self) -> int:
        t = self.peek()
        if t.kind != "INT":
            raise WvletSyntaxError(f"expected a number but found {t.text!r}", t.line, t.col)
        self.next()
        return int(t.text)

    def at_pipe_boundary(self) -> bool:
        """True when the current token begins a new pipe operator (vs. an
        expression that happens to start with the same word, e.g. the
        string function `concat(...)` vs the pipe op `concat { ... }`)."""
        t = self.peek()
        if t.kind == "OP" and t.text == "|":
            # explicit pipe continuation after a trailing comma
            # (reference: spec/basic/count.wv `select 1,\n| count`)
            return True
        if t.kind != "IDENT" or t.text not in PIPE_KEYWORDS:
            return False
        w = t.text
        if w in ("group", "order"):
            return self.at_kw("by", offset=1)
        # pipe ops are never immediately followed by '(' — function calls are
        if self.at_op("(", offset=1):
            return False
        return True

    # -- statements ---------------------------------------------------------

    def parse_statements(self) -> list[N.Statement]:
        stmts: list[N.Statement] = []
        while not self.eof():
            while self.at_op(";"):
                self.next()
            if self.eof():
                break
            start = self.peek().line
            stmt = self.parse_statement()
            # source line span, for interactive statement selection
            # (QuerySelector parity — session.run_selection)
            end = self.peek(-1).line if self.pos > 0 else start
            stmt.line_start = start
            stmt.line_end = max(start, end)
            stmts.append(stmt)
        return stmts

    def parse_statement(self) -> N.Statement:
        t = self.peek()
        if t.kind == "OP" and t.text == "{":
            # a braced query block is a valid statement start; pipe operators
            # may follow the closing brace (reference: spec/basic/dedup.wv)
            rel, tests = self.parse_query()
            return N.QueryStatement(rel, tests)
        if t.kind != "IDENT":
            raise WvletSyntaxError(f"unexpected token {t.text!r} at statement start", t.line, t.col)
        w = t.text
        if w == "package":
            # namespace declaration — recorded, no execution semantics
            self.next()
            return N.ImportStmt("package " + self.parse_qualified_name())
        if w == "use":
            # use [schema|catalog|connector] name[.name] — session context
            self.next()
            if self.at_kw("schema") or self.at_kw("catalog") or self.at_kw("connector"):
                self.next()
            return N.UseStmt(self.parse_qualified_name())
        if w == "model":
            return self.parse_model_def()
        if w == "deallocate":
            self.next()
            return N.DeallocateStmt(self.parse_qualified_name())
        if w == "def":
            return self.parse_def()
        if w == "val":
            return self.parse_val()
        if w == "type":
            return self.parse_type_def()
        if w == "import":
            self.next()
            parts = [self.expect_ident()]
            while self.at_op("."):
                self.next()
                if self.at_op("*"):
                    self.next()
                    parts.append("*")
                    break
                parts.append(self.expect_ident())
            # optional `as alias` and `from "source"` clauses
            if self.at_kw("as"):
                self.next()
                self.expect_ident()
            if self.at_kw("from"):
                self.next()
                tok = self.peek()
                if tok.kind in ("STRING", "TSTRING"):
                    self.next()
                else:
                    raise WvletSyntaxError("import ... from expects a string",
                                           tok.line, tok.col)
            return N.ImportStmt(".".join(parts))
        if w == "execute":
            self.next()
            tok = self.peek()
            if tok.kind == "SQL_STRING":
                self.next()
                return N.ExecuteStmt(tok.text)
            raise WvletSyntaxError("execute expects sql\"...\"", tok.line, tok.col)
        if w == "truncate":
            self.next()
            return N.TruncateStmt(self.parse_qualified_name())
        if w == "explain":
            self.next()
            if self.peek().kind == "SQL_STRING":
                return N.ExplainStmt(sql=self.next().text)
            rel, tests = self.parse_query()
            return N.ExplainStmt(body=rel)
        if w == "flow":
            return self.parse_flow_def()
        if w == "run" and self.at_kw("flow", offset=1):
            return self.parse_run_flow()
        if w == "insert":
            return self.parse_insert()
        if w.lower() in ("create", "drop", "alter"):
            # DDL is conventionally written uppercase; accept both
            return self.parse_ddl_passthrough()
        if w == "call":
            self.next()
            stmt = N.CallToolStmt(self.parse_qualified_name())
            if self.at_op("("):
                self.next()
                while not self.at_op(")"):
                    key = self.expect_ident()
                    self.expect_op("=")
                    stmt.args[key] = self.parse_expr()
                    if self.at_op(","):
                        self.next()
                self.expect_op(")")
            return stmt
        # query forms: from / select / show / with
        rel, tests = self.parse_query()
        # save/append/delete were folded into pipe parsing; unwrap them
        if isinstance(rel, _SaveMarker):
            return N.SaveTo(rel.child, rel.target, rel.is_file, rel.options, tests)
        if isinstance(rel, _AppendMarker):
            return N.AppendTo(rel.child, rel.target, rel.is_file)
        if isinstance(rel, _DeleteMarker):
            return N.DeleteStmt(rel.child)
        return N.QueryStatement(rel, tests)

    def parse_ddl_passthrough(self) -> N.ExecuteStmt:
        """create/drop/alter … — raw SQL passthrough to Spark, the same
        delegation the reference's ddl.scala nodes perform.  Consumes the
        original source text up to `;` or end of input (a DDL statement
        followed by another statement needs the `;`)."""
        start_tok = self.peek()
        line_starts = [0]
        for i, ch in enumerate(self.text):
            if ch == "\n":
                line_starts.append(i + 1)

        def abs_pos(line: int, col: int) -> int:
            return line_starts[line - 1] + (col - 1)

        start = abs_pos(start_tok.line, start_tok.col)
        while not self.eof() and not self.at_op(";"):
            self.next()
        if self.at_op(";"):
            t = self.peek()
            end = abs_pos(t.line, t.col)
            self.next()
        else:
            end = len(self.text)
        return N.ExecuteStmt(self.text[start:end].strip())

    def parse_insert(self) -> N.InsertStmt:
        """insert into t [(c1, c2)] [cluster by k | distribute by k [sort by s]] { query }
        insert overwrite t { query }"""
        self.expect_kw("insert")
        overwrite = False
        if self.at_kw("overwrite"):
            self.next()
            overwrite = True
        else:
            self.expect_kw("into")
        target = self.parse_qualified_name()
        columns = None
        if self.at_op("("):
            columns = self.parse_name_list_paren()
        cluster_by: list[str] = []
        distribute_by: list[str] = []
        sort_by: list[str] = []
        while True:
            if self.at_kw("cluster") and self.at_kw("by", offset=1):
                self.next(); self.next()
                cluster_by = self._ident_list()
            elif self.at_kw("distribute") and self.at_kw("by", offset=1):
                self.next(); self.next()
                distribute_by = self._ident_list()
            elif self.at_kw("sort") and self.at_kw("by", offset=1):
                self.next(); self.next()
                # hive-style per-partition sort keys allow a direction:
                # `sort by year desc, month asc`
                sort_by = []
                while True:
                    name = self.expect_ident()
                    if self.at_kw("asc") or self.at_kw("desc"):
                        name += " " + self.next().text.lower()
                    sort_by.append(name)
                    if self.at_op(","):
                        self.next()
                        continue
                    break
            else:
                break
        body = self.parse_brace_query()
        return N.InsertStmt(target, body, columns, overwrite,
                            cluster_by, distribute_by, sort_by)

    def _ident_list(self) -> list[str]:
        names = [self.expect_ident()]
        while self.at_op(","):
            self.next()
            names.append(self.expect_ident())
        return names

    # -- flow DSL -----------------------------------------------------------
    # reference surface: model/plan/flow.scala + website/docs/syntax/flow.md
    # (stage/route/fork/merge/wait/activate; `run flow F(...)`)

    def parse_config_struct(self) -> dict:
        """`with {k: v, ...}` — literal config dict."""
        self.expect_op("{")
        cfg: dict = {}
        while not self.at_op("}"):
            key = self.next().text
            self.expect_op(":")
            cfg[key] = self.parse_expr()
            if self.at_op(","):
                self.next()
        self.expect_op("}")
        return cfg

    def parse_flow_def(self) -> N.FlowDef:
        self.expect_kw("flow")
        name = self.expect_ident()
        params = self.parse_params()
        flow = N.FlowDef(name, params)
        # header clauses in any order before `=`: `with { schedule: ... }`
        # config and `depends on OtherFlow` (spec/basic/flow-task-syntax.wv)
        while True:
            if self.at_kw("with"):
                self.next()
                flow.config.update(self.parse_config_struct())
            elif self.at_kw("depends") and self.at_kw("on", offset=1):
                self.next()
                self.next()
                deps = [self.parse_qualified_name()]
                while self.at_op(","):
                    self.next()
                    deps.append(self.parse_qualified_name())
                flow.config["depends_on_flows"] = deps
            elif self.at_kw("if"):
                # `flow Recovery if Other.failed = {...}` — error trigger
                self.next()
                flow.config["trigger"] = self.parse_trigger_expr()
            else:
                break
        self.expect_op("=")
        self.expect_op("{")
        while not self.at_op("}"):
            while self.at_op(";"):
                self.next()
            if self.at_kw("stage"):
                flow.stages.append(self.parse_stage_def(flow))
            elif self.at_kw("route"):
                flow.routes.append(self.parse_flow_route())
            elif self.at_kw("fork"):
                # fork { stage ... } — stages inside run in parallel, which
                # the DAG scheduler does anyway; fork is structural sugar
                self.next()
                self.expect_op("{")
                while not self.at_op("}"):
                    while self.at_op(";"):
                        self.next()
                    flow.stages.append(self.parse_stage_def(flow))
                self.expect_op("}")
            elif self.at_kw("merge"):
                flow.merges.append(self.parse_flow_merge())
            else:
                t = self.peek()
                raise WvletSyntaxError(
                    f"expected stage/route/fork/merge in flow body, found {t.text!r}",
                    t.line, t.col)
        self.expect_op("}")
        if self.at_kw("with"):
            self.next()
            flow.config.update(self.parse_config_struct())
        return flow

    def parse_stage_def(self, flow: "N.FlowDef | None" = None) -> N.StageDef:
        self.expect_kw("stage")
        st = N.StageDef(self.expect_ident())
        if self.at_kw("from"):
            self.next()
            st.sources.append(self.expect_ident())
            while self.at_op(","):
                self.next()
                st.sources.append(self.expect_ident())
        if self.at_kw("if"):
            self.next()
            st.condition = self.parse_trigger_expr()
        if self.at_kw("depends"):
            self.next()
            self.expect_kw("on")
            st.depends.append(self.expect_ident())
            while self.at_op(","):
                self.next()
                st.depends.append(self.expect_ident())
        if self.at_kw("with"):
            self.next()
            st.config = self.parse_config_struct()
        self.expect_op("=")
        # stage body forms
        if self.at_kw("wait"):
            self.next()
            if self.at_kw("until"):
                self.next()
                st.kind = "wait_until"
                st.body = self.parse_brace_query()
                return st
            st.kind = "wait"
            self.expect_op("(")
            t = self.next()   # '7 days' | 5s | 100ms
            st.action["duration"] = t.text
            self.expect_op(")")
            return st
        if self.at_kw("activate"):
            self.next()
            st.kind = "activate"
            self.expect_op("(")
            st.action["sink"] = self.next().text
            while self.at_op(","):
                self.next()
                key = self.expect_ident()
                self.expect_op(":")
                st.action[key] = self.parse_expr()
            self.expect_op(")")
            return st
        if self.at_kw("end"):
            self.next()
            st.kind = "end"
            if self.at_op("("):
                self.next()
                self.expect_op(")")
            return st
        # flow jump: `stage s from x = -> OtherFlow` transfers control to
        # another flow (reference: flow.scala FlowJump)
        if self.at_op("->"):
            self.next()
            st.kind = "jump"
            st.action["target_flow"] = self.expect_ident()
            return st
        # `stage merged = merge a, b` — merge as a stage body form
        # (reference: spec/basic/flow-stage-sources.wv)
        if self.at_kw("merge"):
            self.next()
            st.kind = "merge"
            st.sources.append(self.expect_ident())
            while self.at_op(","):
                self.next()
                st.sources.append(self.expect_ident())
            return st
        if self.at_op("{"):
            st.body = self.parse_brace_query()
        else:
            # direct query body: `stage entry = from users | select name`
            # (reference: spec/basic/flow-syntax.wv); stage deps are derived
            # from table refs naming other stages
            st.body = self.parse_query_body()
            # `from x | wait('7 days')` / `| activate(...)` / `| end()` —
            # action pipes become the stage's kind (spec/basic/flow-syntax.wv)
            if isinstance(st.body, N.PartialApply) \
                    and st.body.name in ("wait", "activate", "end"):
                pa = st.body
                upstream = pa.child
                if isinstance(upstream, N.TableRef):
                    st.sources.append(upstream.name)
                    st.body = None
                else:
                    st.body = upstream
                if pa.name == "wait":
                    st.kind = "wait"
                    a0 = pa.args[0] if pa.args else None
                    st.action["duration"] = (
                        a0.value if isinstance(a0, N.Literal) else
                        a0.text if hasattr(a0, "text") else "0s")
                elif pa.name == "activate":
                    st.kind = "activate"
                    plain = [a for a in pa.args if not isinstance(a, N.NamedExpr)]
                    if plain and isinstance(plain[0], N.Literal):
                        st.action["sink"] = plain[0].value
                    for a in pa.args:
                        if isinstance(a, N.NamedExpr) and a.alias:
                            st.action[a.alias] = a.expr
                else:
                    st.kind = "end"
        # `... | -> OtherFlow` — flow jump in pipe position
        # (reference: spec/basic/flow-syntax.wv inactive_path)
        if self.at_op("|") and self.at_op("->", offset=1):
            self.next()
            self.next()
            st.kind = "jump"
            st.action["target_flow"] = self.expect_ident()
            if isinstance(st.body, N.TableRef):
                st.sources.append(st.body.name)
                st.body = None
            return st
        # `... | wait until <expr>` — poll the upstream until the predicate
        # holds (reference: spec/basic/flow-syntax.wv SensorFlow)
        if self.at_op("|") and self.at_kw("wait", offset=1) \
                and self.at_kw("until", offset=2):
            self.next()
            self.next()
            self.next()
            st.kind = "wait_until"
            st.body = N.Filter(st.body, self.parse_expr())
            return st
        # `... | fork { stage a = ... stage b = ... }` — parallel sub-stages
        # (reference: spec/basic/flow-syntax.wv ForkFlow); the scheduler
        # already runs independent stages in parallel, so fork is structural
        if self.at_op("|") and self.at_kw("fork", offset=1) and flow is not None:
            self.next()
            self.next()
            self.expect_op("{")
            while not self.at_op("}"):
                while self.at_op(";"):
                    self.next()
                flow.stages.append(self.parse_stage_def(flow))
            self.expect_op("}")
            return st
        # `... | route [by hash(k)] { case cond -> target else -> other }` —
        # a route fed by this stage's output (reference: spec/basic/flow-syntax.wv)
        if self.at_op("|") and self.at_kw("route", offset=1):
            self.next()
            self.next()
            route = N.FlowRoute(st.name)
            if self.at_kw("by"):
                self.next()
                self.expect_kw("hash")
                self.expect_op("(")
                route.hash_key = self.parse_expr()
                self.expect_op(")")
            self._parse_route_cases(route)
            if flow is not None:
                flow.routes.append(route)
        return st

    def parse_trigger_expr(self) -> N.Expr:
        """Stage trigger grammar: `a.failed and (b.done or not c.skipped)`.
        Deliberately restricted — a full parse_expr would swallow the
        stage-body `=` as a comparison operator."""
        left = self.parse_trigger_and()
        while self.at_kw("or"):
            self.next()
            left = N.Or(left, self.parse_trigger_and())
        return left

    def parse_trigger_and(self) -> N.Expr:
        left = self.parse_trigger_atom()
        while self.at_kw("and"):
            self.next()
            left = N.And(left, self.parse_trigger_atom())
        return left

    def parse_trigger_atom(self) -> N.Expr:
        if self.at_kw("not"):
            self.next()
            return N.Not(self.parse_trigger_atom())
        if self.at_op("("):
            self.next()
            e = self.parse_trigger_expr()
            self.expect_op(")")
            return e
        name = self.expect_ident()
        self.expect_op(".")
        prop = self.expect_ident()
        return N.Ref(N.Ident(name), prop)

    def parse_flow_route(self) -> N.FlowRoute:
        self.expect_kw("route")
        source = self.expect_ident()
        route = N.FlowRoute(source)
        if self.at_kw("by"):
            self.next()
            self.expect_kw("hash")
            self.expect_op("(")
            route.hash_key = self.parse_expr()
            self.expect_op(")")
        self._parse_route_cases(route)
        return route

    def _parse_route_cases(self, route: N.FlowRoute) -> None:
        self.expect_op("{")
        while not self.at_op("}"):
            while self.at_op(";"):
                self.next()
            if self.at_op("}"):
                break
            if self.at_kw("else"):
                self.next()
                self.expect_op("->")
                route.cases.append(N.FlowRouteCase(self.expect_ident(), is_else=True))
                continue
            self.expect_kw("case")
            if self.peek().kind == "INT" and self.at_op("->", offset=1):
                pct = self.expect_int()
                self.expect_op("->")
                route.cases.append(N.FlowRouteCase(self.expect_ident(), percent=pct))
            else:
                cond = self.parse_expr()
                self.expect_op("->")
                route.cases.append(N.FlowRouteCase(self.expect_ident(), cond=cond))
        self.expect_op("}")

    def parse_flow_merge(self) -> N.FlowMerge:
        self.expect_kw("merge")
        name = self.expect_ident()
        self.expect_op("=")
        merge = N.FlowMerge(name)
        merge.sources.append(self.expect_ident())
        while self.at_op(","):
            self.next()
            merge.sources.append(self.expect_ident())
        if self.at_kw("on"):
            self.next()
            merge.on = self.parse_expr()
        return merge

    def parse_run_flow(self) -> N.RunFlowStmt:
        self.expect_kw("run")
        self.expect_kw("flow")
        stmt = N.RunFlowStmt(self.expect_ident())
        if self.at_op("("):
            self.next()
            while not self.at_op(")"):
                # named `k = v` or positional `v`
                # (reference: spec/basic/flow-params.wv `ParamPipeline('a', 3)`)
                if self.peek().kind == "IDENT" and self.at_op("=", offset=1) \
                        and not self.at_op("==", offset=1):
                    key = self.expect_ident()
                    self.expect_op("=")
                    stmt.args[key] = self.parse_expr()
                else:
                    stmt.pos_args.append(self.parse_expr())
                if self.at_op(","):
                    self.next()
            self.expect_op(")")
        if self.at_kw("resume"):
            self.next()
            t = self.next()
            stmt.resume_run_id = t.text
        # the run summary is a relation: pipe ops and tests may follow
        # (reference: spec/basic/flow-run.wv)
        hole = _HoleRelation()
        rel = self.parse_pipe_ops(hole)
        tests: list[N.Expr] = []
        while isinstance(rel, N.TestRelation):
            tests.insert(0, rel.expr)
            rel = rel.child
        if rel is not hole:
            stmt.pipe = rel
        stmt.tests = tests
        return stmt

    # -- definitions --------------------------------------------------------

    def parse_params(self) -> list[tuple[str, str | None, N.Expr | None]]:
        params = []
        if not self.at_op("("):
            return params
        self.next()
        while not self.at_op(")"):
            name = self.expect_ident()
            ptype = None
            default = None
            if self.at_op(":"):
                self.next()
                ptype = self.parse_type_name()
            if self.at_op("="):
                self.next()
                default = self.parse_expr()
            params.append((name, ptype, default))
            if self.at_op(","):
                self.next()
        self.expect_op(")")
        return params

    def parse_model_def(self) -> N.ModelDef:
        self.expect_kw("model")
        name = self.expect_ident()
        params = self.parse_params()
        if self.at_op(":"):
            # `model weblogs: td_sdk_log = { ... }` — type-annotated model
            # (reference spec/cdp_simple/behavior.wv); the annotation is
            # advisory here: type METHODS resolve globally by name
            self.next()
            self.parse_type_name()
        self.expect_op("=")
        self.expect_op("{")
        body, _ = self.parse_query()
        self.expect_op("}")
        return N.ModelDef(name, params, body)

    def parse_def(self) -> N.Statement:
        self.expect_kw("def")
        name = self.expect_ident()
        params = self.parse_params()
        # `def f(...) in duckdb: string = native` — an engine-native function
        # imported from a target database catalog (reference:
        # spec/basic/engine-native-func.wv); the binding engine is advisory
        if self.at_kw("in"):
            self.next()
            self.parse_qualified_name()
        ret_type = None
        if self.at_op(":"):
            self.next()
            ret_type = self.parse_type_name()
        self.expect_op("=")
        # native function: body provided by the compiler (ulid_string) or
        # the engine (catalog-imported) — reference WvletParser NATIVE body
        if self.peek().kind == "IDENT" and self.peek().text == "native":
            self.next()
            return N.FunctionDef(name, params, ret_type, N.NativeExpr(name, ret_type))
        # partial query def: body begins with a pipe keyword
        if self.peek().kind == "IDENT" and self.peek().text in PIPE_KEYWORDS:
            ops = self.parse_pipe_ops_deferred()
            return N.PartialQueryDef(name, params, ops)
        body = self.parse_expr()
        return N.FunctionDef(name, params, ret_type, body)

    def parse_pipe_ops_deferred(self) -> list:
        """Parse a chain of pipe ops with a placeholder child; returns the op
        list as (relation with _HoleRelation at the leaf)."""
        hole = _HoleRelation()
        rel = self.parse_pipe_ops(hole)
        return [rel]

    def parse_val(self) -> N.ValDef:
        self.expect_kw("val")
        name = self.expect_ident()
        if self.at_op("("):
            cols = self.parse_name_list_paren()
            self.expect_op("=")
            rows = self.parse_values_literal()
            return N.ValDef(name, table=N.Values(rows, alias=name, columns=cols))
        self.expect_op("=")
        # val table without cols: val t = [[..]]
        if self.at_op("[") and self.at_op("[", offset=1):
            rows = self.parse_values_literal()
            return N.ValDef(name, table=N.Values(rows, alias=name))
        return N.ValDef(name, expr=self.parse_expr())

    def parse_type_def(self) -> N.TypeDef:
        self.expect_kw("type")
        name = self.expect_ident()
        binding = None
        extends = None
        if self.at_kw("in"):
            self.next()
            binding = self.parse_qualified_name()
        if self.at_kw("extends"):
            # `type ip_address in duckdb extends string = { def ... }` —
            # scalar subtype carrying methods (reference
            # spec/cdp_simple/cdp_types_duckdb.wv)
            self.next()
            extends = self.parse_type_name()
        self.expect_op("=")
        cols: list[tuple[str, str]] = []
        methods: list = []
        if self.at_op("{"):
            self.next()
            while not self.at_op("}"):
                if self.at_kw("def"):
                    # dialect scope comes from the type header:
                    # `type string in duckdb = { def ... }` (reference
                    # wvlet-stdlib/module/standard/string.wv:27-39)
                    fn = self.parse_def()
                    methods.append((binding, fn))
                    continue
                cname = self.expect_ident()
                self.expect_op(":")
                ctype = self.parse_type_name()
                cols.append((cname, ctype))
                if self.at_op(","):
                    self.next()
            self.expect_op("}")
        else:
            parent = self.parse_type_name()
            return N.TypeDef(name, parent=parent, binding=binding)
        return N.TypeDef(name, parent=extends, columns=cols, binding=binding,
                         methods=methods)

    def parse_type_name(self) -> str:
        base = self.expect_ident()
        if self.at_op("("):
            # parenthesized type args: `decimal(15,2)`, or composite field
            # lists `struct(id long, name string)` — keep each top-level
            # comma group intact (tokens joined by spaces, nesting kept)
            self.next()
            args = []
            cur: list[str] = []
            depth = 0
            while not (depth == 0 and self.at_op(")")):
                t = self.next()
                if t.text in ("(", "["):
                    depth += 1
                elif t.text in (")", "]"):
                    depth -= 1
                if t.text == "," and depth == 0:
                    args.append(_join_type_tokens(cur))
                    cur = []
                else:
                    cur.append(t.text)
            self.expect_op(")")
            if cur:
                args.append(_join_type_tokens(cur))
            return f"{base}({','.join(args)})"
        if self.at_op("["):
            # `array[int]` element types, or numeric parameters in bracket
            # form: `decimal[15,2]` (reference spec/tpch/schema.wv) —
            # normalized to paren form like `decimal(15,2)`
            if self.peek(1).kind in ("INT", "FLOAT", "DECIMAL"):
                self.next()
                params = []
                while not self.at_op("]"):
                    params.append(self.next().text)
                    if self.at_op(","):
                        self.next()
                self.expect_op("]")
                return f"{base}({','.join(params)})"
            self.next()
            inners = [self.parse_type_name()]
            # two-parameter element types: `map[string, int]`
            while self.at_op(","):
                self.next()
                inners.append(self.parse_type_name())
            self.expect_op("]")
            return f"{base}[{','.join(inners)}]"
        return base

    def parse_name_list_paren(self) -> list[str]:
        """(a, b) — each name may carry an optional `:type` annotation
        (`val t2(id:int, name:string)`, spec/basic/table-value-constant.wv);
        types are advisory and dropped (values rows carry their own types)."""
        self.expect_op("(")
        names = [self.expect_ident()]
        if self.at_op(":"):
            self.next()
            self.parse_type_name()
        while self.at_op(","):
            self.next()
            names.append(self.expect_ident())
            if self.at_op(":"):
                self.next()
                self.parse_type_name()
        self.expect_op(")")
        return names

    def parse_values_literal(self) -> list[list[N.Expr]]:
        """[[1,'a'], [2,'b']] — also accepts a flat single row [1,'a']."""
        self.expect_op("[")
        rows: list[list[N.Expr]] = []
        while not self.at_op("]"):
            if self.at_op("["):
                self.next()
                row = []
                while not self.at_op("]"):
                    row.append(self.parse_expr())
                    if self.at_op(","):
                        self.next()
                self.expect_op("]")
                rows.append(row)
            else:
                rows.append([self.parse_expr()])
            if self.at_op(","):
                self.next()
        self.expect_op("]")
        return rows

    def parse_qualified_name(self) -> str:
        parts = [self.expect_ident()]
        while self.at_op(".") and self.peek(1).kind in ("IDENT", "BQIDENT"):
            self.next()
            parts.append(self.expect_ident())
        return ".".join(parts)

    # -- queries ------------------------------------------------------------

    def parse_query(self) -> tuple[N.Relation, list[N.Expr]]:
        """Parse a query (with/from/select/show ...) and trailing tests."""
        rel = self.parse_query_body()
        tests: list[N.Expr] = []
        # tests may trail at statement level (already handled in pipe ops too)
        while isinstance(rel, N.TestRelation):
            tests.insert(0, rel.expr)
            rel = rel.child
        return rel, tests

    def parse_query_body(self) -> N.Relation:
        ctes: list[tuple[str, N.Relation]] = []
        recursive = False
        while self.at_kw("with"):
            self.next()
            if self.at_kw("recursive"):
                self.next()
                recursive = True
            ctes.append(self._parse_cte_clause())
            while self.at_op(","):
                self.next()
                ctes.append(self._parse_cte_clause())
        rel = self.parse_query_start()
        rel = self.parse_pipe_ops(rel)
        if ctes:
            rel = N.WithQuery(ctes, rel, recursive=recursive)
        return rel

    def _parse_cte_clause(self) -> tuple[str, N.Relation]:
        """name [(cols)] as { query } — or `as [rows]`, a values-table CTE
        (reference: spec/basic/with-values.wv)."""
        name = self.expect_ident()
        cols = None
        if self.at_op("("):
            cols = self.parse_name_list_paren()
        self.expect_kw("as")
        if self.at_op("["):
            rows = self.parse_values_literal()
            return (name, N.Values(rows, alias=name, columns=cols))
        self.expect_op("{")
        body, _ = self.parse_query()
        self.expect_op("}")
        if cols:
            # `with t(a, b) as { ... }` — the column list renames the CTE's
            # output (SQL WITH-clause column aliases)
            body = N.AliasedRelation(body, alias=name, columns=cols)
        return (name, body)

    def parse_query_start(self) -> N.Relation:
        if self.at_kw("from"):
            self.next()
            rel = self.parse_relation_primary()
            # implicit cross-join list: from a, b, c
            while self.at_op(","):
                self.next()
                right = self.parse_relation_primary()
                rel = N.Join(rel, right, "cross")
            return rel
        if self.at_kw("select"):
            # select without from: one-row relation
            return _NoInput()
        if self.at_kw("show"):
            return self.parse_show()
        if self.at_kw("describe"):
            self.next()
            if (self.at_kw("input") or self.at_kw("output")) \
                    and self.peek(1).kind == "IDENT":
                kind = self.peek().text.lower()
                self.next()
                return N.DescribePrepared(kind, self.parse_qualified_name())
            inner = self.parse_relation_primary()
            return N.Describe(inner)
        if self.at_op("{"):
            # braced query block as the pipe source (spec/basic/dedup.wv)
            return self.parse_brace_query()
        t = self.peek()
        raise WvletSyntaxError(f"expected query start but found {t.text!r}", t.line, t.col)

    def parse_show(self) -> N.Relation:
        self.expect_kw("show")
        kind = self.expect_ident()
        in_target = None
        like = None
        if kind == "query":
            # show query <model> — display the model's query text
            # (reference: spec/basic/show-query.wv)
            return N.Show(kind, self.parse_qualified_name(), None)
        if self.at_kw("in"):
            self.next()
            in_target = self.parse_qualified_name()
        if self.at_kw("like"):
            self.next()
            like = self.next().text
        return N.Show(kind, in_target, like)

    def parse_relation_primary(self) -> N.Relation:
        t = self.peek()
        rel: N.Relation
        # `lateral { subquery }` / `lateral unnest(...)` — the subquery may
        # reference columns of relations to its left (reference:
        # relation.scala Lateral)
        if t.kind == "IDENT" and t.text == "lateral" \
                and (self.at_op("{", offset=1) or self.peek(1).kind == "IDENT"):
            self.next()
            lat = N.Lateral(self.parse_relation_primary())
            if self.at_kw("as"):
                self.next()
                lat.alias = self.expect_ident()
                if self.at_op("("):
                    lat.columns = self.parse_name_list_paren()
            elif isinstance(lat.child, N.AliasedRelation):
                # `lateral { ... } as t`: the brace-subquery parse already
                # consumed the alias — lift it onto the LATERAL wrapper
                # (SQL's outermost aliasable unit) so qualified refs like
                # t.col resolve; otherwise the generator wraps the whole
                # operand in a fresh __latN alias that HIDES the user's
                # name (round-6 fuzz find, sql_lateral_corr family).
                lat.alias = lat.child.alias
                lat.columns = lat.child.columns
            return lat
        if t.kind == "INTERP_BQIDENT":
            self.next()
            rel = N.InterpTableRef(_interp_ident_parts(t.text))
        elif t.kind == "STRING":
            self.next()
            fmt = _infer_format(t.text)
            rel = N.FileScan(t.text, fmt)
        elif t.kind == "SQL_STRING":
            self.next()
            rel = N.RawSQL(t.text)
        elif self.at_op("["):
            rows = self.parse_values_literal()
            rel = N.Values(rows)
        elif self.at_op("{"):
            self.next()
            body, _ = self.parse_query()
            self.expect_op("}")
            rel = N.ParenRelation(body)
        elif self.at_op("("):
            self.next()
            body, _ = self.parse_query()
            self.expect_op(")")
            rel = N.ParenRelation(body)
        elif t.kind in ("IDENT", "BQIDENT"):
            name = self.parse_qualified_name()
            if self.at_op("("):
                args = self.parse_call_args(allow_named=True)
                if name.split(".")[-1] == "subscribe":
                    base = name.rsplit(".", 1)[0]
                    rel = N.Subscribe(N.ModelScan(base), source_name=base)
                    for a in args:
                        if isinstance(a, N.NamedExpr) and a.alias:
                            val = a.expr.value if isinstance(a.expr, N.Literal) else None
                            if a.alias == "watermark_column":
                                rel.watermark_column = val
                            elif a.alias == "window_size":
                                rel.window_size = val
                            else:
                                rel.params.append((a.alias, a.expr))
                elif name in ("unnest", "unnest_map", "unnest_struct"):
                    rel = N.TableFunctionCall(
                        name, [a.expr if isinstance(a, N.NamedExpr) else a for a in args]
                    )
                else:
                    margs = [
                        (a.alias, a.expr) if isinstance(a, N.NamedExpr) else (None, a)
                        for a in args
                    ]
                    rel = N.ModelScan(name, args=margs)
            else:
                rel = N.TableRef(name)
        else:
            raise WvletSyntaxError(f"expected relation but found {t.text!r}", t.line, t.col)

        # optional alias: as t(cols) / as t
        if self.at_kw("as"):
            self.next()
            alias = self.expect_ident()
            cols = None
            if self.at_op("("):
                cols = self.parse_name_list_paren()
            if isinstance(rel, N.Values):
                rel.alias = alias
                rel.columns = cols
            elif isinstance(rel, N.TableFunctionCall):
                rel.alias = alias
                rel.columns = cols
            else:
                rel = N.AliasedRelation(rel, alias, cols)
        return rel

    def parse_function_call(self, name: str) -> "N.FunctionApply":
        """`fn([distinct] args [order by k [asc|desc], ...])` — the
        distinct / ordered-aggregation surface (`array_agg(distinct x)`,
        `array_agg(x order by y desc)`); dialect lowering happens in the
        generator (DuckDB renders natively, Spark composes a struct
        sort)."""
        self.expect_op("(")
        is_distinct = False
        if self.at_kw("distinct"):
            self.next()
            is_distinct = True
        args: list[N.Expr] = []
        order: list[tuple[N.Expr, bool]] = []
        while not self.at_op(")"):
            if self.at_kw("order") and self.at_kw("by", offset=1):
                self.next()
                self.next()
                while True:
                    k = self.parse_expr()
                    desc = False
                    if self.at_kw("asc"):
                        self.next()
                    elif self.at_kw("desc"):
                        self.next()
                        desc = True
                    nulls = None
                    if self.at_kw("nulls") and (self.at_kw("first", offset=1)
                                                or self.at_kw("last",
                                                              offset=1)):
                        self.next()
                        nulls = self.peek().text.lower()
                        self.next()
                    order.append((k, desc, nulls))
                    if self.at_op(","):
                        self.next()
                        continue
                    break
                continue
            if self.at_kw("from"):
                # bare query as argument (spec/tpch/q16.wv `.in(from ...)`)
                args.append(N.ScalarSubquery(self.parse_query_body()))
            else:
                a = self.parse_expr()
                args.append(a.expr if isinstance(a, N.NamedExpr) else a)
            if self.at_op(","):
                self.next()
        self.expect_op(")")
        fn = N.FunctionApply(name, args, is_distinct)
        if order:
            fn.agg_order = order
        return fn

    def parse_call_args(self, allow_named: bool = False) -> list[N.Expr]:
        self.expect_op("(")
        args = []
        while not self.at_op(")"):
            # named arg: name = expr (model/table-function calls only —
            # inside ordinary function calls `=` is a comparison)
            if (
                allow_named
                and self.peek().kind == "IDENT"
                and (self.at_op("=", offset=1) or self.at_op(":", offset=1))
                and not self.at_op("==", offset=1)
            ):
                name = self.expect_ident()
                self.next()  # = or :
                val = self.parse_expr()
                args.append(N.NamedExpr(val, alias=name))
            elif self.at_kw("from"):
                # bare query as argument: `x.in( from t select c )` /
                # `x.not_in( from t ... )` (reference spec/tpch/q16.wv,
                # q18.wv, q20.wv)
                args.append(N.ScalarSubquery(self.parse_query_body()))
            else:
                args.append(self.parse_expr())
            if self.at_op(","):
                self.next()
        self.expect_op(")")
        return args

    # -- pipe operators -----------------------------------------------------

    def parse_pipe_ops(self, rel: N.Relation) -> N.Relation:
        while True:
            if self.at_op("|"):
                if self.at_kw("route", offset=1) or self.at_kw("fork", offset=1) \
                        or self.at_op("->", offset=1) or (
                        self.at_kw("wait", offset=1) and self.at_kw("until", offset=2)):
                    break  # flow route/fork/jump/wait-until — stage parser handles
                self.next()
                rel = self.parse_partial_apply(rel)
                continue
            t = self.peek()
            if t.kind != "IDENT":
                break
            w = t.text
            if w == "where":
                self.next()
                rel = N.Filter(rel, self.parse_expr())
            elif w == "select":
                self.next()
                rel = self.parse_select(rel)
            elif w == "agg":
                self.next()
                rel = N.Agg(rel, self.parse_named_expr_list())
            elif w == "group" and self.at_kw("by", offset=1):
                self.next()
                self.next()
                rel = N.GroupBy(rel, self.parse_named_expr_list())
            elif w == "order" and self.at_kw("by", offset=1):
                self.next()
                self.next()
                rel = N.Sort(rel, self.parse_sort_items())
            elif w == "limit":
                self.next()
                rel = N.Limit(rel, self.expect_int())
            elif w == "offset":
                self.next()
                rel = N.Offset(rel, self.expect_int())
            elif w == "add":
                self.next()
                rel = N.AddColumns(rel, self.parse_named_expr_list())
            elif w == "prepend":
                self.next()
                rel = N.PrependColumns(rel, self.parse_named_expr_list())
            elif w == "exclude":
                self.next()
                names = [self.expect_ident()]
                while self.at_op(","):
                    self.next()
                    names.append(self.expect_ident())
                rel = N.ExcludeColumns(rel, names)
            elif w == "rename":
                self.next()
                renames = []
                while True:
                    old = self.expect_ident()
                    self.expect_kw("as")
                    new = self.expect_ident()
                    renames.append((old, new))
                    if self.at_op(","):
                        self.next()
                        continue
                    break
                rel = N.RenameColumns(rel, renames)
            elif w == "shift":
                self.next()
                to_left = True
                if self.at_kw("to"):
                    self.next()
                    side = self.expect_ident()
                    to_left = side == "left"
                names = [self.expect_ident()]
                while self.at_op(","):
                    self.next()
                    names.append(self.expect_ident())
                rel = N.ShiftColumns(rel, names, to_left)
            elif w == "transform":
                self.next()
                rel = N.Transform(rel, self.parse_named_expr_list())
            elif w == "dedup" or w == "distinct":
                self.next()
                rel = N.Dedup(rel)
            elif w == "count":
                self.next()
                rel = N.CountRel(rel)
            elif w == "sample":
                self.next()
                rel = self.parse_sample(rel)
            elif w in ("join", "left", "right", "full", "inner", "cross", "asof", "natural"):
                rel = self.parse_join(rel)
            elif w == "concat":
                self.next()
                # `concat { q }` or a direct `concat from <relation>` —
                # in the direct form, later pipe ops apply to the UNION
                # (reference: spec/basic/dedup.wv `concat from [...] dedup`)
                if self.at_kw("from"):
                    self.next()
                    right = self.parse_relation_primary()
                else:
                    right = self.parse_brace_query()
                rel = N.SetOp("union_all", rel, right)
            elif w == "intersect":
                self.next()
                all_ = False
                if self.at_kw("all"):
                    self.next()
                    all_ = True
                right = self.parse_brace_query()
                rel = N.SetOp("intersect_all" if all_ else "intersect", rel, right)
            elif w == "except":
                self.next()
                all_ = False
                if self.at_kw("all"):
                    self.next()
                    all_ = True
                right = self.parse_brace_query()
                rel = N.SetOp("except_all" if all_ else "except", rel, right)
            elif w == "pivot":
                rel = self.parse_pivot(rel)
            elif w == "unpivot":
                rel = self.parse_unpivot(rel)
            elif w == "test":
                self.next()
                rel = N.TestRelation(rel, self.parse_test_expr())
            elif w == "describe":
                self.next()
                rel = N.Describe(rel)
            elif w == "debug":
                self.next()
                body = None
                if self.at_op("{"):
                    hole = _HoleRelation()
                    self.next()
                    inner = self.parse_pipe_ops(hole)
                    self.expect_op("}")
                    body = inner
                rel = N.Debug(rel, body)
            elif w == "save":
                self.next()
                self.expect_kw("to")
                t = self.peek()
                if t.kind == "STRING":
                    self.next()
                    target, is_file = t.text, True
                else:
                    target, is_file = self.parse_qualified_name(), False
                options: dict[str, object] = {}
                if self.at_kw("with"):
                    self.next()
                    if self.at_op("{"):
                        options = self.parse_options_block()
                    else:
                        # brace-less form (reference spec/basic/update/
                        # save-with-options.wv): `with k: v, k: v,`
                        while (self.peek().kind == "IDENT"
                               and self.at_op(":", offset=1)):
                            key = self.expect_ident()
                            self.next()
                            options[key] = self.parse_expr()
                            if self.at_op(","):
                                self.next()
                return _SaveMarker(rel, target, is_file, options)
            elif w == "append":
                self.next()
                self.expect_kw("to")
                t = self.peek()
                if t.kind == "STRING":
                    self.next()
                    return _AppendMarker(rel, t.text, True)
                return _AppendMarker(rel, self.parse_qualified_name(), False)
            elif w == "delete":
                self.next()
                return _DeleteMarker(rel)
            elif w == "subscribe":
                self.next()
                rel = N.Subscribe(rel)
            else:
                break
        return rel

    def parse_partial_apply(self, rel: N.Relation) -> N.Relation:
        """After `|`: either a pipe keyword continues the chain or a
        user-defined partial query is applied."""
        t = self.peek()
        if t.kind == "IDENT" and t.text in PIPE_KEYWORDS:
            return rel  # main loop will pick the op up
        name = self.expect_ident()
        args: list[N.Expr] = []
        if self.at_op("("):
            args = self.parse_call_args(allow_named=True)
        return N.PartialApply(rel, name, args)

    def parse_brace_query(self) -> N.Relation:
        self.expect_op("{")
        body, _ = self.parse_query()
        self.expect_op("}")
        return body

    def parse_options_block(self) -> dict[str, object]:
        self.expect_op("{")
        opts: dict[str, object] = {}
        while not self.at_op("}"):
            key = self.expect_ident()
            self.expect_op(":")
            val = self.parse_expr()
            opts[key] = val
            if self.at_op(","):
                self.next()
        self.expect_op("}")
        return opts

    def parse_select(self, rel: N.Relation) -> N.Relation:
        distinct = False
        if self.at_kw("distinct"):
            self.next()
            distinct = True
        if self.at_kw("as"):
            self.next()
            if self.peek().kind == "INTERP_BQIDENT":
                # `select as s`name_${0}`` — the interpolation must be
                # static here (no deferred args in a result name)
                t = self.next()
                parts = _interp_ident_parts(t.text)
                out = []
                for p in parts:
                    if isinstance(p, str):
                        out.append(p)
                    elif isinstance(p, N.Literal):
                        out.append(str(p.value))
                    else:
                        raise WvletSyntaxError(
                            "select-as name interpolation must be constant",
                            t.line, t.col)
                alias = "".join(out)
            else:
                alias = self.expect_ident()
            return N.AliasedRelation(rel, alias, from_select_as=True)
        items = self.parse_select_items()
        return N.Project(rel, items, distinct)

    def parse_select_items(self) -> list:
        items: list = []
        while True:
            if self.at_op("*"):
                self.next()
                items.append(N.Star())
            elif (
                self.peek().kind in ("IDENT", "BQIDENT")
                and self.at_op(".", offset=1)
                and self.at_op("*", offset=2)
            ):
                q = self.expect_ident()
                self.next()
                self.next()
                items.append(N.Star(qualifier=q))
            else:
                items.append(self.parse_named_expr())
            if self.at_op(","):
                self.next()
                # allow trailing comma before pipe keyword / end of statement
                if self.at_pipe_boundary():
                    break
                if self.peek().kind == "EOF" or self.at_op(";", "}", ")"):
                    break
                continue
            break
        return items

    def parse_named_expr(self) -> N.NamedExpr:
        # name = expr alias form (but avoid consuming comparisons: ident = expr
        # is an alias ONLY in select/agg/add context which is where we're called)
        if (
            self.peek().kind in ("IDENT", "BQIDENT")
            and self.at_op("=", offset=1)
        ):
            name = self.expect_ident()
            self.next()
            expr = self.parse_expr()
            return N.NamedExpr(expr, alias=name)
        expr = self.parse_expr()
        alias = None
        if self.at_kw("as"):
            self.next()
            alias = self.expect_ident()
        return N.NamedExpr(expr, alias)

    def parse_named_expr_list(self) -> list[N.NamedExpr]:
        items = [self.parse_named_expr()]
        while self.at_op(","):
            self.next()
            if self.peek().kind == "EOF" or self.at_op(";", "}", ")"):
                break
            if self.at_pipe_boundary():
                break
            items.append(self.parse_named_expr())
        return items

    def parse_sort_items(self) -> list[N.SortItem]:
        items = []
        while True:
            expr = self.parse_expr()
            asc: bool | None = None
            nf: bool | None = None
            if self.at_kw("asc"):
                self.next()
                asc = True
            elif self.at_kw("desc"):
                self.next()
                asc = False
            if self.at_kw("nulls"):
                self.next()
                side = self.expect_ident()
                nf = side == "first"
            items.append(N.SortItem(expr, asc, nf))
            if self.at_op(","):
                self.next()
                continue
            break
        return items

    def parse_sample(self, rel: N.Relation) -> N.Relation:
        method = "default"
        t = self.peek()
        if t.kind == "IDENT" and t.text in ("reservoir", "system", "bernoulli"):
            method = t.text
            self.next()
            self.expect_op("(")
            size, is_rows = self.parse_sample_size()
            self.expect_op(")")
        else:
            size, is_rows = self.parse_sample_size()
        return N.Sample(rel, method, size, is_rows)

    def parse_sample_size(self) -> tuple[float, bool]:
        t = self.next()
        val = float(t.text.rstrip("fF"))
        if self.at_op("%"):
            self.next()
            return val, False
        return val, True

    def parse_join(self, rel: N.Relation) -> N.Relation:
        asof = False
        natural = False
        jt = "inner"
        if self.at_kw("natural"):
            self.next()
            natural = True
        if self.at_kw("asof"):
            self.next()
            asof = True
        w = self.peek().text
        if w in ("left", "right", "full", "inner", "cross"):
            self.next()
            jt = w
            if self.at_kw("outer"):
                self.next()
        self.expect_kw("join")
        right = self.parse_relation_primary()
        cond = None
        using = None
        if self.at_kw("using"):
            self.next()
            using = self.parse_name_list_paren()
        elif self.at_kw("on"):
            self.next()
            expr = self.parse_expr()
            # `on col1, col2` (bare idents) = using-join on same-named columns
            if isinstance(expr, N.Ident):
                names = [expr.name]
                while self.at_op(","):
                    self.next()
                    names.append(self.expect_ident())
                using = names
            else:
                cond = expr
        if natural and (cond is not None or using is not None):
            t = self.peek()
            raise WvletSyntaxError(
                "natural join takes no ON/USING clause", t.line, t.col)
        return N.Join(rel, right, jt, cond, using, natural=natural,
                      asof=asof)

    def parse_pivot(self, rel: N.Relation) -> N.Relation:
        self.expect_kw("pivot")
        self.expect_kw("on")
        pivot_col = self.parse_additive()  # not parse_expr: `in (...)` follows
        values = None
        if self.at_kw("in"):
            self.next()
            self.expect_op("(")
            values = [self.parse_expr()]
            while self.at_op(","):
                self.next()
                values.append(self.parse_expr())
            self.expect_op(")")
        group_by: list[N.NamedExpr] = []
        group_all_others = False
        agg_items: list[N.NamedExpr] = []
        if self.at_kw("group") and self.at_kw("by", offset=1):
            self.next()
            self.next()
            if self.at_op("*"):
                # `group by *`: every input column not referenced by the
                # pivot column / aggregates (DuckDB PIVOT-statement
                # implicit grouping; expanded at generation time)
                self.next()
                group_all_others = True
            else:
                group_by = self.parse_named_expr_list()
        if self.at_kw("agg"):
            self.next()
            agg_items = self.parse_named_expr_list()
        return N.Pivot(rel, pivot_col, values, group_by, agg_items,
                       group_all_others)

    def parse_unpivot(self, rel: N.Relation) -> N.Relation:
        self.expect_kw("unpivot")
        # value column is optional and defaults to "value"
        # (reference: spec/basic/unpivot.wv `unpivot for month in (...)`)
        value_col = "value" if self.at_kw("for") else self.expect_ident()
        self.expect_kw("for")
        name_col = self.expect_ident()
        self.expect_kw("in")
        cols = self.parse_name_list_paren()
        return N.Unpivot(rel, value_col, name_col, cols)

    # -- test expressions ---------------------------------------------------

    def parse_test_expr(self) -> N.Expr:
        left = self.parse_expr_no_should()
        if self.at_kw("should"):
            self.next()
            negated = False
            if self.at_kw("not"):
                self.next()
                negated = True
            verb = self.expect_ident()  # be | contain
            right = self.parse_expr_no_should()
            op = f"should_{'not_' if negated else ''}{verb}"
            return N.Comparison(op, left, right)
        if self.at_op("="):
            self.next()
            right = self.parse_expr_no_should()
            return N.Comparison("should_be", left, right)
        return left

    def parse_expr_no_should(self) -> N.Expr:
        return self.parse_expr()

    # -- expressions --------------------------------------------------------

    def parse_expr(self) -> N.Expr:
        return self.parse_lambda_or_or()

    def parse_lambda_or_or(self) -> N.Expr:
        # lambda: x -> expr
        if self.peek().kind == "IDENT" and self.at_op("->", offset=1) \
                and self.peek().text not in ("if", "case", "not", "exists", "interval"):
            param = self.expect_ident()
            self.next()
            body = self.parse_expr()
            return N.Lambda([param], body)
        return self.parse_or()

    def parse_or(self) -> N.Expr:
        left = self.parse_and()
        while self.at_kw("or"):
            self.next()
            left = N.Or(left, self.parse_and())
        return left

    def parse_and(self) -> N.Expr:
        left = self.parse_not()
        while self.at_kw("and"):
            self.next()
            left = N.And(left, self.parse_not())
        return left

    def parse_not(self) -> N.Expr:
        if self.at_kw("not") and not self.at_kw("in", offset=1) and not self.at_kw("like", offset=1) \
                and not self.at_kw("between", offset=1):
            self.next()
            return N.Not(self.parse_not())
        return self.parse_comparison()

    def parse_comparison(self) -> N.Expr:
        left = self.parse_additive()
        while True:
            t = self.peek()
            if t.kind == "OP" and t.text in ("=", "==", "!=", "<>", "<", "<=", ">", ">=", "<=>"):
                op = t.text
                self.next()
                right = self.parse_additive()
                # wvlet: `= null` means IS NULL, `!= null` means IS NOT NULL
                if isinstance(right, N.Literal) and right.kind == "null":
                    if op in ("=", "=="):
                        left = N.IsNull(left)
                        continue
                    if op in ("!=", "<>"):
                        left = N.IsNull(left, negated=True)
                        continue
                norm = {"==": "=", "<>": "!="}.get(op, op)
                left = N.Comparison(norm, left, right)
                continue
            if t.kind == "IDENT":
                w = t.text
                if w == "is":
                    self.next()
                    negated = False
                    if self.at_kw("not"):
                        self.next()
                        negated = True
                    if self.at_kw("null"):
                        self.next()
                        left = N.IsNull(left, negated)
                        continue
                    if self.at_kw("distinct"):
                        self.next()
                        self.expect_kw("from")
                        right = self.parse_additive()
                        left = N.IsDistinctFrom(left, right, negated)
                        continue
                    # `a is 'x'` — equality sugar
                    right = self.parse_additive()
                    cmp = N.Comparison("=", left, right)
                    left = N.Not(cmp) if negated else cmp
                    continue
                negated = False
                if w == "not" and self.peek(1).kind == "IDENT" \
                        and self.peek(1).text in ("in", "like", "between", "rlike", "contains"):
                    self.next()
                    negated = True
                    w = self.peek().text
                if w == "in":
                    self.next()
                    left = self.parse_in_rhs(left, negated)
                    continue
                if w == "like":
                    self.next()
                    pattern = self.parse_additive()
                    escape = None
                    if self.at_kw("escape"):
                        self.next()
                        escape = self.parse_additive()
                    left = N.Like(left, pattern, escape, negated)
                    continue
                if w == "rlike":
                    self.next()
                    left = N.Like(left, self.parse_additive(), None, negated, is_rlike=True)
                    continue
                if w == "between":
                    self.next()
                    lo = self.parse_additive()
                    self.expect_kw("and")
                    hi = self.parse_additive()
                    left = N.Between(left, lo, hi, negated)
                    continue
                if w == "contains":
                    self.next()
                    left = N.FunctionApply("contains", [left, self.parse_additive()])
                    continue
                if w == "at" and self.peek(1).kind == "IDENT" and self.peek(1).text == "time" \
                        and self.peek(2).kind == "IDENT" and self.peek(2).text == "zone":
                    self.next(); self.next(); self.next()
                    left = N.AtTimeZone(left, self.parse_additive())
                    continue
            break
        return left

    def parse_in_rhs(self, left: N.Expr, negated: bool) -> N.Expr:
        if self.at_op("{"):
            q = self.parse_brace_query()
            return N.InSubquery(left, q, negated)
        if self.at_op("("):
            self.next()
            # parenthesized subquery: `in ( from ... select ... )`
            # (reference: spec/basic/tuple-in-subquery.wv)
            if self.peek().kind == "IDENT" and self.peek().text in (
                    "from", "select", "with", "show"):
                q = self.parse_query_body()
                self.expect_op(")")
                return N.InSubquery(left, q, negated)
            vals = [self.parse_expr()]
            while self.at_op(","):
                self.next()
                vals.append(self.parse_expr())
            self.expect_op(")")
            return N.InList(left, vals, negated)
        if self.at_op("["):
            self.next()
            vals = []
            while not self.at_op("]"):
                vals.append(self.parse_expr())
                if self.at_op(","):
                    self.next()
            self.expect_op("]")
            return N.InList(left, vals, negated)
        # in subquery-by-name? e.g. in range
        rhs = self.parse_additive()
        return N.FunctionApply("contains", [rhs, left]) if not negated \
            else N.Not(N.FunctionApply("contains", [rhs, left]))

    def parse_additive(self) -> N.Expr:
        left = self.parse_multiplicative()
        while self.at_op("+", "-", "||"):
            op = self.next().text
            right = self.parse_multiplicative()
            if op == "||":
                left = N.FunctionApply("concat", [left, right])
            else:
                left = N.ArithmeticOp(op, left, right)
        return left

    def parse_multiplicative(self) -> N.Expr:
        left = self.parse_unary()
        while self.at_op("*", "/", "//", "%"):
            op = self.next().text
            left = N.ArithmeticOp(op, left, self.parse_unary())
        return left

    def parse_unary(self) -> N.Expr:
        if self.at_op("-"):
            self.next()
            return N.UnaryOp("-", self.parse_unary())
        if self.at_op("+"):
            self.next()
            return self.parse_unary()
        if self.at_op("!"):
            self.next()
            return N.Not(self.parse_unary())
        return self.parse_postfix()

    def parse_postfix(self) -> N.Expr:
        expr = self.parse_primary()
        while True:
            if self.at_op("::"):
                self.next()
                to_type = self.parse_type_name()
                expr = N.Cast(expr, to_type)
                continue
            if self.at_op(".") and self.peek(1).kind in ("IDENT", "BQIDENT"):
                self.next()
                name = self.expect_ident()
                args: list[N.Expr] = []
                has_parens = False
                if self.at_op("("):
                    has_parens = True
                    raw = self.parse_call_args()
                    args = [a.expr if isinstance(a, N.NamedExpr) else a for a in raw]
                window = None
                if self.at_kw("over"):
                    window = self.parse_window()
                if isinstance(expr, N.Ident) and not has_parens and not window \
                        and _looks_like_column_path(name):
                    # could be table.column — represent as Ref; resolved later
                    expr = N.Ref(expr, name)
                else:
                    expr = N.MethodCall(expr, name, args, window)
                continue
            if self.at_op("["):
                self.next()
                index = self.parse_expr()
                self.expect_op("]")
                expr = N.Subscript(expr, index)
                continue
            if self.at_kw("over"):
                window = self.parse_window()
                if isinstance(expr, N.FunctionApply):
                    expr.window = window
                elif isinstance(expr, N.MethodCall):
                    expr.window = window
                elif isinstance(expr, (N.Ident, N.Ref)):
                    nm = expr.name if isinstance(expr, N.Ident) else expr.name
                    expr = N.FunctionApply(nm, [], window=window)
                continue
            if self.at_kw("filter") and self.at_op("(", offset=1) \
                    and self.at_kw("where", offset=2) \
                    and isinstance(expr, N.FunctionApply):
                # SQL aggregate FILTER clause: agg(x) filter (where pred)
                self.next()
                self.next()
                self.expect_kw("where")
                expr.filter = self.parse_expr()
                self.expect_op(")")
                continue
            break
        return expr

    def parse_window(self) -> N.WindowSpec:
        self.expect_kw("over")
        self.expect_op("(")
        spec = N.WindowSpec()
        if self.at_kw("partition") and self.at_kw("by", offset=1):
            self.next()
            self.next()
            spec.partition_by.append(self.parse_expr())
            while self.at_op(","):
                self.next()
                spec.partition_by.append(self.parse_expr())
        if self.at_kw("order") and self.at_kw("by", offset=1):
            self.next()
            self.next()
            spec.order_by = self.parse_sort_items()
        if self.at_kw("rows", "range"):
            spec.frame_type = self.next().text
            if self.at_kw("between"):
                # SQL-style frame: `rows between 2 preceding and current
                # row` — same node as the wvlet compact form rows[-2, 0]
                self.next()
                spec.frame_start = self.parse_sql_frame_bound()
                self.expect_kw("and")
                spec.frame_end = self.parse_sql_frame_bound()
                self.expect_op(")")
                return spec
            if self.at_kw("unbounded", "current") or self.peek().kind == "INT":
                # single-bound SQL form: `rows 3 preceding` /
                # `rows unbounded preceding` (end defaults to current row)
                spec.frame_start = self.parse_sql_frame_bound()
                spec.frame_end = N.FrameBound("current")
                self.expect_op(")")
                return spec
            self.expect_op("[")
            # rows[-1,0] | rows[,0] | rows[-1,]
            start: N.FrameBound
            if self.at_op(","):
                start = N.FrameBound("unbounded_preceding")
            else:
                start = self.parse_frame_bound(is_start=True)
            self.expect_op(",")
            if self.at_op("]"):
                end = N.FrameBound("unbounded_following")
            else:
                end = self.parse_frame_bound(is_start=False)
            self.expect_op("]")
            spec.frame_start = start
            spec.frame_end = end
        self.expect_op(")")
        return spec

    def parse_sql_frame_bound(self) -> N.FrameBound:
        """UNBOUNDED PRECEDING | <n> PRECEDING | CURRENT ROW |
        <n> FOLLOWING | UNBOUNDED FOLLOWING."""
        if self.at_kw("unbounded"):
            self.next()
            if self.at_kw("preceding"):
                self.next()
                return N.FrameBound("unbounded_preceding")
            self.expect_kw("following")
            return N.FrameBound("unbounded_following")
        if self.at_kw("current"):
            self.next()
            self.expect_kw("row")
            return N.FrameBound("current")
        t = self.next()
        n = int(t.text)
        if self.at_kw("preceding"):
            self.next()
            return N.FrameBound("preceding", n) if n else N.FrameBound("current")
        self.expect_kw("following")
        return N.FrameBound("following", n) if n else N.FrameBound("current")

    def parse_frame_bound(self, is_start: bool) -> N.FrameBound:
        neg = False
        if self.at_op("-"):
            self.next()
            neg = True
        t = self.next()
        n = int(t.text)
        if n == 0 and not neg:
            return N.FrameBound("current")
        if neg:
            return N.FrameBound("preceding", n)
        return N.FrameBound("following", n)

    def parse_primary(self) -> N.Expr:
        t = self.peek()
        if t.kind == "INT":
            self.next()
            return N.Literal(int(t.text), "int")
        if t.kind == "FLOAT":
            self.next()
            return N.Literal(float(t.text.rstrip("fF")), "float")
        if t.kind == "STRING":
            self.next()
            return N.Literal(t.text, "string")
        if t.kind == "TSTRING":
            self.next()
            return N.Literal(t.text, "string")
        if t.kind == "INTERP_STRING":
            self.next()
            return _parse_interp(t.text, "s")
        if t.kind == "SQL_STRING":
            self.next()
            return N.RawSQLExpr(t.text)
        if t.kind == "DURATION":
            self.next()
            return N.Literal(t.text, "duration")
        if t.kind == "BQIDENT":
            self.next()
            # backquoted name applied as a function: `sum`(1)
            # (reference: spec/basic/backquoted-func.wv)
            if self.at_op("("):
                args = self.parse_call_args()
                return N.FunctionApply(
                    t.text, [a.expr if isinstance(a, N.NamedExpr) else a for a in args])
            return N.Ident(t.text, quoted=True)
        # prepared-statement parameters: ? / $1 / $name
        if self.at_op("?"):
            self.next()
            self._anon_param_idx = getattr(self, "_anon_param_idx", 0) + 1
            return N.Param("anon", index=self._anon_param_idx)
        if self.at_op("$"):
            self.next()
            t2 = self.peek()
            if t2.kind == "INT":
                self.next()
                return N.Param("index", index=int(t2.text))
            if t2.kind == "IDENT":
                self.next()
                return N.Param("name", name=t2.text)
            raise WvletSyntaxError("expected index or name after '$'", t2.line, t2.col)
        if self.at_op("("):
            self.next()
            if self.at_op(")"):
                # `()` — the empty grouping set (grand total) in
                # `group by grouping_sets((a, b), (a), ())`
                self.next()
                return N.RowCtor([])
            exprs = [self.parse_expr()]
            while self.at_op(","):
                self.next()
                exprs.append(self.parse_expr())
            self.expect_op(")")
            if self.at_op("->"):
                self.next()
                params = []
                for e in exprs:
                    if not isinstance(e, N.Ident):
                        raise WvletSyntaxError("invalid lambda parameter list")
                    params.append(e.name)
                return N.Lambda(params, self.parse_expr())
            if len(exprs) > 1:
                return N.RowCtor(exprs)
            return exprs[0]
        if self.at_op("["):
            self.next()
            items = []
            while not self.at_op("]"):
                items.append(self.parse_expr())
                if self.at_op(","):
                    self.next()
            self.expect_op("]")
            return N.ArrayCtor(items)
        if self.at_op("{"):
            # struct literal {k: v, ...} or scalar subquery { from ... }
            if (
                (self.peek(1).kind in ("IDENT", "STRING", "BQIDENT") and self.at_op(":", offset=2))
            ):
                self.next()
                entries = []
                while not self.at_op("}"):
                    key = self.next().text
                    self.expect_op(":")
                    entries.append((key, self.parse_expr()))
                    if self.at_op(","):
                        self.next()
                self.expect_op("}")
                return N.StructCtor(entries)
            q = self.parse_brace_query()
            return N.ScalarSubquery(q)
        if self.at_op("*"):
            self.next()
            return N.Star()
        if self.at_op("_"):
            self.next()
            return N.Underscore()
        if self.at_op("?"):
            self.next()
            return N.Literal(None, "param")
        if t.kind == "IDENT":
            w = t.text
            if w == "_":
                self.next()
                return N.Underscore()
            if w == "null":
                self.next()
                return N.Literal(None, "null")
            if w in ("true", "false"):
                self.next()
                return N.Literal(w == "true", "bool")
            if w == "if":
                return self.parse_if()
            if w == "case":
                return self.parse_case()
            if w == "exists":
                self.next()
                q = self.parse_brace_query()
                return N.Exists(q)
            if w == "not":
                self.next()
                return N.Not(self.parse_comparison())
            if w == "interval":
                self.next()
                vt = self.next()
                unit = self.expect_ident()
                if self.at_kw("to"):
                    self.next()
                    unit = unit + " to " + self.expect_ident()
                return N.IntervalLiteral(vt.text, unit)
            if w == "map" and self.at_op("{", offset=1):
                self.next()
                self.next()
                entries = []
                while not self.at_op("}"):
                    k = self.parse_expr()
                    self.expect_op(":")
                    v = self.parse_expr()
                    entries.append((k, v))
                    if self.at_op(","):
                        self.next()
                self.expect_op("}")
                return N.MapCtor(entries)
            if w == "extract" and self.at_op("(", offset=1):
                self.next()
                self.next()
                fld = self.expect_ident()
                self.expect_kw("from")
                inner = self.parse_expr()
                self.expect_op(")")
                return N.FunctionApply("extract", [N.Ident(fld), inner])
            if w in ("cast", "try_cast") and self.at_op("(", offset=1):
                self.next()
                self.next()
                inner = self.parse_expr()
                self.expect_kw("as")
                to_type = self.parse_type_name()
                self.expect_op(")")
                return N.Cast(inner, to_type, try_cast=(w == "try_cast"))
            # plain identifier or function call
            self.next()
            if self.at_op("("):
                fn = self.parse_function_call(w)
                # `lag(x) ignore nulls over (...)` / `respect nulls`
                if self.at_kw("ignore") and self.at_kw("nulls", offset=1):
                    self.next(); self.next()
                    fn.ignore_nulls = True
                elif self.at_kw("respect") and self.at_kw("nulls", offset=1):
                    self.next(); self.next()
                return fn
            # _1 _2 positional refs arrive as plain idents
            return N.Ident(w)
        raise WvletSyntaxError(f"unexpected token {t.text!r} in expression", t.line, t.col)

    def parse_if(self) -> N.Expr:
        self.expect_kw("if")
        if self.at_op("("):
            # function style if(cond, a, b) — unless a lone parenthesized
            # condition is followed by `then`: `if (a and b) then x else y`
            mark = self.pos
            args = self.parse_call_args()
            vals = [a.expr if isinstance(a, N.NamedExpr) else a for a in args]
            if len(vals) == 1 and self.at_kw("then"):
                self.next()
                then = self.parse_expr()
                otherwise = None
                if self.at_kw("else"):
                    self.next()
                    otherwise = self.parse_expr()
                return N.IfExpr(vals[0], then, otherwise)
            if len(vals) == 1:
                # a lone parenthesized group NOT followed by `then` is the
                # START of a larger condition (`if (a + b) > c then ...`) —
                # rewind and let parse_expr consume the whole condition
                self.pos = mark
            else:
                cond = vals[0]
                then = vals[1] if len(vals) > 1 else N.Literal(None, "null")
                other = vals[2] if len(vals) > 2 else None
                return N.IfExpr(cond, then, other)
        cond = self.parse_expr()
        self.expect_kw("then")
        then = self.parse_expr()
        otherwise = None
        if self.at_kw("else"):
            self.next()
            otherwise = self.parse_expr()
        return N.IfExpr(cond, then, otherwise)

    def parse_case(self) -> N.Expr:
        self.expect_kw("case")
        target = None
        if not self.at_kw("when"):
            target = self.parse_expr()
        whens = []
        while self.at_kw("when"):
            self.next()
            cond = self.parse_expr()
            self.expect_kw("then")
            val = self.parse_expr()
            whens.append((cond, val))
        otherwise = None
        if self.at_kw("else"):
            self.next()
            otherwise = self.parse_expr()
        if self.at_kw("end"):
            self.next()
        return N.CaseExpr(target, whens, otherwise)


# -- helper node types used during parsing ----------------------------------


class _HoleRelation(N.Relation):
    """Placeholder child for deferred pipe chains (partial query defs)."""


class _NoInput(N.Relation):
    """select-without-from input."""


class _SaveMarker(N.Relation):
    def __init__(self, child, target, is_file, options):
        self.child = child
        self.target = target
        self.is_file = is_file
        self.options = options


class _AppendMarker(N.Relation):
    def __init__(self, child, target, is_file):
        self.child = child
        self.target = target
        self.is_file = is_file


class _DeleteMarker(N.Relation):
    def __init__(self, child):
        self.child = child


def _interp_ident_parts(raw: str) -> list:
    """Split an s`...${expr}...` body into literal strings and parsed exprs."""
    parts: list = []
    i = 0
    while i < len(raw):
        j = raw.find("${", i)
        if j < 0:
            if raw[i:]:
                parts.append(raw[i:])
            break
        if j > i:
            parts.append(raw[i:j])
        k = raw.find("}", j + 2)
        if k < 0:
            raise WvletSyntaxError("unterminated ${...} in interpolated identifier")
        parts.append(Parser(raw[j + 2 : k]).parse_expr())
        i = k + 1
    return parts


def _infer_format(path: str) -> str:
    if path.lower().endswith(".wv"):
        return "wv"
    p = path.lower()
    if p.endswith(".csv") or p.endswith(".csv.gz"):
        return "csv"
    if p.endswith(".json") or p.endswith(".json.gz"):
        return "json"
    if p.endswith(".jsonl") or p.endswith(".jsonl.gz") \
            or p.endswith(".ndjson") or p.endswith(".ndjson.gz"):
        return "jsonl"
    if p.endswith(".tsv") or p.endswith(".tsv.gz"):
        return "tsv"
    if p.endswith(".orc"):
        return "orc"
    return "parquet"


def _looks_like_column_path(name: str) -> bool:
    """Heuristic: `t.col` is a column Ref; `x.sum`/`x.count` etc. are method
    calls. Known no-paren aggregation/conversion method names."""
    return name not in _NOPAREN_METHODS


_NOPAREN_METHODS = {
    "count", "sum", "avg", "min", "max", "stddev", "var_samp", "var_pop",
    "stddev_samp", "stddev_pop", "median", "mode", "to_array", "array_agg",
    "count_distinct", "count_approx_distinct", "approx_distinct", "first",
    "last", "arbitrary", "any_value", "to_int", "to_long", "to_float",
    "to_double", "to_string", "to_boolean", "to_date", "to_timestamp",
    "to_json", "length", "trim", "ltrim", "rtrim", "upper", "lower",
    "reverse", "abs", "ceil", "floor", "round", "sqrt", "size", "rows",
    "columns", "output", "json", "subscribe",
}


def _parse_interp(body: str, prefix: str) -> N.Expr:
    """Split s"a ${x} b" into parts; ${...} parsed as expressions."""
    parts: list[object] = []
    i = 0
    buf = []
    n = len(body)
    while i < n:
        if body.startswith("${", i):
            end = body.find("}", i + 2)
            if end < 0:
                raise WvletSyntaxError("unterminated ${...} interpolation")
            if buf:
                parts.append("".join(buf))
                buf = []
            inner = body[i + 2 : end]
            parts.append(Parser(inner).parse_expr())
            i = end + 1
            continue
        buf.append(body[i])
        i += 1
    if buf:
        parts.append("".join(buf))
    return N.InterpString(parts, prefix)


def parse(text: str) -> list[N.Statement]:
    return Parser(text).parse_statements()
