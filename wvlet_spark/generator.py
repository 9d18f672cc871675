"""Lowering: wvlet AST -> SQL text (Spark dialect for execution, DuckDB
dialect for oracle cross-checks).

Unlike the reference's SqlGenerator (which implements SELECT-block fusion to
emit pretty SQL for many dialects), this generator targets exactly two
dialects and leans on Catalyst: blocks are fused only where trivially safe
and otherwise nested — Spark's optimizer collapses nested projections,
pushes filters, and prunes columns, so the emitted shape does not affect the
physical plan quality.

Key semantic rules re-implemented from the reference language:
- `group by` keys + following `agg`/`select` form one aggregation
  (relation.scala Agg/GroupBy semantics)
- `where` after `group by` = HAVING
- bare `group by` = keys + any_value(non-key) for every non-key column
- dot-aggregation sugar: `_.count`, `col.sum`, `(a*b).sum`, `x.count_distinct`
- `= null` / `!= null` mean IS [NOT] NULL
- 1-origin array indexing
- asof join lowered to join + row_number (Spark) / native ASOF (DuckDB)
- pivot lowered to group-by + conditional aggregation (both dialects)
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field, replace

from wvlet_spark import nodes as N
from wvlet_spark.lexer import WvletSyntaxError


class CompileError(Exception):
    pass


SPARK = "spark"
DUCKDB = "duckdb"

# function name translation (wvlet/common name -> per-dialect)
FUNC_MAP: dict[str, dict[str, str]] = {
    "arbitrary": {SPARK: "any_value", DUCKDB: "arbitrary"},
    "any_value": {SPARK: "any_value", DUCKDB: "arbitrary"},
    "array_agg": {SPARK: "collect_list", DUCKDB: "array_agg"},
    "to_array": {SPARK: "collect_list", DUCKDB: "array_agg"},
    "string_agg": {SPARK: "string_agg", DUCKDB: "string_agg"},
    # strftime/date_format are handled in _function (the format STRING
    # must be converted between Java and C patterns, not just the name)
    "strpos": {SPARK: "instr", DUCKDB: "strpos"},
    "regexp_matches": {SPARK: "regexp_like", DUCKDB: "regexp_matches"},
    "regexp_like": {SPARK: "regexp_like", DUCKDB: "regexp_matches"},
    "approx_distinct": {SPARK: "approx_count_distinct", DUCKDB: "approx_count_distinct"},
    "count_approx_distinct": {SPARK: "approx_count_distinct", DUCKDB: "approx_count_distinct"},
    "approx_quantile": {SPARK: "percentile_approx", DUCKDB: "approx_quantile"},
    "unnest": {SPARK: "explode", DUCKDB: "unnest"},
    "list_contains": {SPARK: "array_contains", DUCKDB: "list_contains"},
    "array_contains": {SPARK: "array_contains", DUCKDB: "list_contains"},
    "transform": {SPARK: "transform", DUCKDB: "list_transform"},
    "list_transform": {SPARK: "transform", DUCKDB: "list_transform"},
    "filter": {SPARK: "filter", DUCKDB: "list_filter"},
    "list_filter": {SPARK: "filter", DUCKDB: "list_filter"},
    "json_extract_string": {SPARK: "get_json_object", DUCKDB: "json_extract_string"},
    "get_json_object": {SPARK: "get_json_object", DUCKDB: "json_extract_string"},
    "array_sort": {SPARK: "array_sort", DUCKDB: "list_sort"},
    "array_distinct": {SPARK: "array_distinct", DUCKDB: "list_distinct"},
    "instr": {SPARK: "instr", DUCKDB: "instr"},
    # array reverse / byte length: the Spark spellings don't bind on
    # DuckDB's types (reverse is string-only there; octet_length is
    # BLOB-only) — round-8 dialect audit
    "list_reverse": {SPARK: "reverse", DUCKDB: "list_reverse"},
    "strlen": {SPARK: "octet_length", DUCKDB: "strlen"},
    "split": {SPARK: "split", DUCKDB: "string_split_regex"},
    "date_diff": {SPARK: "datediff", DUCKDB: "date_diff"},
    "list_value": {SPARK: "array", DUCKDB: "list_value"},
    "collect_list": {SPARK: "collect_list", DUCKDB: "array_agg"},
    "starts_with": {SPARK: "startswith", DUCKDB: "starts_with"},
    "startswith": {SPARK: "startswith", DUCKDB: "starts_with"},
    "ends_with": {SPARK: "endswith", DUCKDB: "ends_with"},
    "endswith": {SPARK: "endswith", DUCKDB: "ends_with"},
    "format_string": {SPARK: "format_string", DUCKDB: "printf"},
    "printf": {SPARK: "format_string", DUCKDB: "printf"},
    "percentile": {SPARK: "percentile", DUCKDB: "quantile_cont"},
    "quantile_cont": {SPARK: "percentile", DUCKDB: "quantile_cont"},
    # Spark's kurtosis is the population excess kurtosis
    "kurtosis": {SPARK: "kurtosis", DUCKDB: "kurtosis_pop"},
    "sort_array": {SPARK: "sort_array", DUCKDB: "list_sort"},
    # json_extract returns a JSON value in DuckDB; the string form matches
    # Spark's get_json_object scalar
    "json_extract": {SPARK: "get_json_object", DUCKDB: "json_extract_string"},
    "array_max": {SPARK: "array_max", DUCKDB: "list_max"},
    "array_min": {SPARK: "array_min", DUCKDB: "list_min"},
    "list_max": {SPARK: "array_max", DUCKDB: "list_max"},
    "list_min": {SPARK: "array_min", DUCKDB: "list_min"},
    "list_sort": {SPARK: "array_sort", DUCKDB: "list_sort"},
    "list_distinct": {SPARK: "array_distinct", DUCKDB: "list_distinct"},
    "list_position": {SPARK: "array_position", DUCKDB: "list_position"},
    "array_position": {SPARK: "array_position", DUCKDB: "list_position"},
    "arg_max": {SPARK: "max_by", DUCKDB: "arg_max"},
    "arg_min": {SPARK: "min_by", DUCKDB: "arg_min"},
    "size": {SPARK: "size", DUCKDB: "len"},
    "array_length": {SPARK: "size", DUCKDB: "len"},
    "array_join": {SPARK: "array_join", DUCKDB: "array_to_string"},
    "array_to_string": {SPARK: "array_join", DUCKDB: "array_to_string"},
}

# Higher-order functions whose 2-param lambda takes (element, index) —
# the index base differs across engines (Spark 0-based, DuckDB 1-based).
_IX_LAMBDA_FNS = {"transform", "list_transform", "filter", "list_filter",
                  "array_transform", "array_filter", "list_apply"}

# Functions that always produce ARRAY values — used by the generator's
# _is_array_expr to discriminate DuckDB's polymorphic len/length.
_ARRAY_RETURNING_FNS = {
    "split", "string_split", "string_split_regex", "str_split",
    "string_to_array", "regexp_extract_all", "regexp_split_to_array",
    "sequence", "transform", "list_transform", "filter", "list_filter",
    "array_sort", "sort_array", "list_sort", "array_distinct",
    "list_distinct", "flatten", "array_concat", "list_concat",
    "array_union", "array_intersect", "array_except", "array_remove",
    "array_compact", "arrays_zip", "collect_list", "array_agg",
    "list_append", "list_prepend", "array_append", "array_prepend",
    "array_repeat", "map_keys", "map_values", "array", "list_value",
}

AGG_FUNCS = {
    "count", "sum", "avg", "min", "max", "stddev", "stddev_samp", "stddev_pop",
    "var_samp", "var_pop", "variance", "median", "mode", "count_if", "max_by",
    "min_by", "array_agg", "collect_list", "collect_set", "to_array", "first",
    "last", "arbitrary", "any_value", "string_agg", "approx_quantile",
    "percentile_approx", "approx_count_distinct", "count_distinct",
    "count_approx_distinct", "approx_distinct", "bool_and", "bool_or",
    "bit_and", "bit_or", "product", "corr", "covar_samp", "covar_pop",
    "arg_max", "arg_min", "entropy",
}

SCALAR_METHOD_CASTS = {
    "to_int": "int",
    "to_long": "long",
    "to_float": "float",
    "to_double": "double",
    "to_string": "string",
    "to_boolean": "boolean",
    "to_date": "date",
    "to_timestamp": "timestamp",
}

_SAFE_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _re2_repl_tokens(rep: str):
    """Tokenize an RE2/DuckDB replacement string into ("grp", n) backref
    tokens and ("lit", java_text) literal tokens (already escaped for the
    Java replacement grammar).  RE2's Rewrite grammar only has
    single-digit backrefs \\0..\\9; $ is literal there and must be
    escaped as \\$ for Java; \\\\ stays a literal backslash."""
    out = []
    i = 0
    while i < len(rep):
        c = rep[i]
        if c == "\\" and i + 1 < len(rep):
            n = rep[i + 1]
            if n.isdigit():
                out.append(("grp", int(n)))
            elif n == "\\":
                out.append(("lit", "\\\\"))
            else:
                out.append(("lit", "\\" + n))
            i += 2
            continue
        if c == "$":
            out.append(("lit", "\\$"))
        elif c == "\\":          # trailing lone backslash
            out.append(("lit", "\\\\"))
        else:
            out.append(("lit", c))
        i += 1
    return out


def _render_java_repl(tokens, total_groups=None):
    """Render ("grp", n)/("lit", text) tokens as a Java replacement
    string, rejecting the ambiguous backref-then-digit adjacency: Java's
    appendReplacement greedily absorbs following literal digits into the
    group number as long as the larger number is still a valid group
    (round-9 advisor find — '$1' + literal '2' binds group 12 when the
    pattern has 12+ groups).  When total_groups is known, simulate that
    parse and raise the typed reject on any absorption."""
    out = []
    for i, (kind, val) in enumerate(tokens):
        if kind != "grp":
            out.append(val)
            continue
        if total_groups is not None:
            num = val
            for j in range(i + 1, len(tokens)):
                k2, v2 = tokens[j]
                if k2 != "lit" or not v2[:1].isdigit():
                    break
                absorbed = False
                for d in v2:
                    if not d.isdigit():
                        break
                    cand = num * 10 + int(d)
                    if cand > total_groups:
                        break
                    num = cand
                    absorbed = True
                if absorbed:
                    raise WvletSyntaxError(
                        "regexp replacement: backreference \\"
                        f"{val} followed by a literal digit is "
                        "ambiguous in the Spark replacement grammar "
                        "(Java binds the longer group number)", 0, 0)
                break
        out.append(f"${val}")
    return "".join(out)


def re2_repl_to_java(rep: str, total_groups=None) -> str:
    """RE2/DuckDB regexp replacement grammar -> Java/Spark grammar:
    backrefs are \\N there and $N here; $ is literal there and must be
    escaped here; \\\\ stays a literal backslash.  (Round-8 fuzz find:
    passing replacements through verbatim made $0 expand — or raise —
    on Spark while DuckDB printed it literally.)  When total_groups is
    known, backref-then-digit adjacencies that Java would mis-parse are
    rejected (round-9 advisor find)."""
    return _render_java_repl(_re2_repl_tokens(rep), total_groups)


def re2_repl_to_java_first(rep: str, ngroups: int) -> str:
    """Replacement translator for the FIRST-match-only Spark lowering of
    regexp_replace_first, whose pattern is rewritten to the anchored
    wrapper  \\A((?s:.*?))((?:PAT))((?s:.*))  — group 1 is the lazy
    prefix, group 2 the PAT match itself, PAT's own groups shift to
    3..ngroups+2, and group ngroups+3 is the rest of the string.  So:
    \\0 (RE2 whole-match) -> $2, \\N -> $(N+2), and the rendered
    replacement is bracketed by $1 ... $<ngroups+3> to re-attach the
    unmatched prefix/suffix."""
    total = ngroups + 3
    tokens = []
    for kind, val in _re2_repl_tokens(rep):
        if kind == "grp":
            if val > ngroups:
                raise WvletSyntaxError(
                    f"regexp_replace_first: replacement references "
                    f"group {val} but the pattern only has {ngroups} "
                    "capture group(s)", 0, 0)
            tokens.append(("grp", 2 if val == 0 else val + 2))
        else:
            tokens.append((kind, val))
    tokens.append(("grp", total))
    body = _render_java_repl([("grp", 1)] + tokens, total)
    return body


def java_repl_to_re2(rep: str) -> str:
    """Inverse of re2_repl_to_java: Java/Spark replacement grammar ->
    RE2/DuckDB grammar, for lowering the engine's canonical (Java-style)
    regexp_replace onto the DuckDB oracle target."""
    out = []
    i = 0
    while i < len(rep):
        c = rep[i]
        if c == "\\" and i + 1 < len(rep):
            n = rep[i + 1]
            if n == "$":
                out.append("$")
            elif n == "\\":
                out.append("\\\\")
            else:
                out.append("\\" + n)
            i += 2
            continue
        if c == "$" and i + 1 < len(rep) and rep[i + 1].isdigit():
            out.append("\\" + rep[i + 1])
            i += 2
            continue
        if c == "\\":
            out.append("\\\\")
        else:
            out.append(c)
        i += 1
    return "".join(out)

_INT_CAST_TARGETS = {"long", "bigint", "int", "integer", "smallint",
                     "tinyint", "short", "byte"}

# functions whose result is numeric and can carry a fractional part
_FRACTIONAL_FNS = {
    "sqrt", "cbrt", "ln", "log", "log2", "log10", "exp", "power", "pow",
    "avg", "mean", "stddev", "stddev_pop", "stddev_samp", "variance",
    "var_pop", "var_samp", "corr", "covar_pop", "covar_samp", "median",
    "percentile", "percentile_approx", "quantile", "radians", "degrees",
    "sin", "cos", "tan", "asin", "acos", "atan", "atan2", "sinh", "cosh",
    "tanh", "rand", "random",
}

# numeric pass-throughs: fractional iff an argument is
_NUMERIC_THROUGH_FNS = {"coalesce", "nullif", "least", "greatest", "abs",
                        "round", "floor", "ceil", "ceiling", "trunc",
                        "truncate", "sign", "pmod", "mod"}


def _provably_date(e) -> bool:
    """True only for expressions that are syntactically certain to be a
    DATE (not timestamp) — precondition for the DuckDB date+interval
    re-cast."""
    if isinstance(e, N.Cast):
        return e.to_type.strip().lower() == "date"
    if isinstance(e, N.FunctionApply):
        return e.name.lower() in ("current_date", "to_date", "date",
                                  "last_day", "date_add", "date_sub",
                                  "make_date")
    if isinstance(e, N.MethodCall):
        return e.method.lower() == "to_date"
    if isinstance(e, N.ArithmeticOp) and e.op in ("+", "-") \
            and isinstance(e.right, N.IntervalLiteral):
        return _provably_date(e.left)
    return False


# Java DateTimeFormatter <-> C strftime directive table.  Used to convert
# LITERAL format strings between `date_format` (Spark, Java patterns) and
# `strftime` (DuckDB, C patterns) so the same wvlet text produces the same
# rendered dates on both dialects.  (A name-only mapping would silently
# feed Java patterns to strftime or vice versa — wrong VALUES, no error.)
_JAVA_TO_C = {
    "yyyy": "%Y", "yy": "%y", "MMMM": "%B", "MMM": "%b", "MM": "%m",
    "M": "%-m", "dd": "%d", "d": "%-d", "EEEE": "%A", "EEE": "%a",
    "E": "%a", "DDD": "%j", "HH": "%H", "H": "%-H", "hh": "%I",
    "h": "%-I", "mm": "%M", "m": "%-M", "ss": "%S", "s": "%-S",
    "SSS": "%g", "SSSSSS": "%f", "a": "%p",
}
_C_TO_JAVA = {
    "%Y": "yyyy", "%y": "yy", "%B": "MMMM", "%b": "MMM", "%h": "MMM",
    "%m": "MM", "%-m": "M", "%d": "dd", "%-d": "d", "%A": "EEEE",
    "%a": "EEE", "%j": "DDD", "%H": "HH", "%-H": "H", "%I": "hh",
    "%-I": "h", "%M": "mm", "%-M": "m", "%S": "ss", "%-S": "s",
    "%g": "SSS", "%f": "SSSSSS", "%p": "a", "%%": "%",
}


def _java_fmt_to_c(fmt: str) -> str:
    """Convert a Java DateTimeFormatter pattern to C strftime."""
    out, i = [], 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "'":  # quoted literal section ('' = literal quote)
            if fmt[i:i + 2] == "''":
                out.append("'")
                i += 2
                continue
            j = fmt.find("'", i + 1)
            if j < 0:
                raise CompileError(f"unterminated quote in date format "
                                   f"{fmt!r}")
            out.append(fmt[i + 1:j].replace("%", "%%"))
            i = j + 1
        elif ch.isalpha():
            j = i
            while j < len(fmt) and fmt[j] == ch:
                j += 1
            tok = fmt[i:j]
            if tok not in _JAVA_TO_C:
                raise CompileError(
                    f"unsupported date format directive {tok!r} in {fmt!r} "
                    f"(cross-dialect date_format/strftime conversion)")
            out.append(_JAVA_TO_C[tok])
            i = j
        else:
            out.append("%%" if ch == "%" else ch)
            i += 1
    return "".join(out)


def _c_fmt_to_java(fmt: str) -> str:
    """Convert a C strftime pattern to Java DateTimeFormatter."""
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%":
            tok = fmt[i:i + 3] if fmt[i + 1:i + 2] == "-" else fmt[i:i + 2]
            if tok not in _C_TO_JAVA:
                raise CompileError(
                    f"unsupported strftime directive {tok!r} in {fmt!r} "
                    f"(cross-dialect date_format/strftime conversion)")
            out.append(_C_TO_JAVA[tok])
            i += len(tok)
        elif fmt[i].isalpha():
            # bare letters are literal text in C but pattern letters in
            # Java — quote them
            j = i
            while j < len(fmt) and fmt[j].isalpha():
                j += 1
            out.append("'" + fmt[i:j] + "'")
            i = j
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


def _maybe_fractional_numeric(e, type_of=None) -> bool:
    """True only for expressions that are PROVABLY numeric and may carry a
    fractional part — the precondition for the DuckDB-side trunc() wrap in
    integer casts (trunc of a VARCHAR would error, so this must never
    fire on possibly-string expressions).  type_of, when provided, gives a
    column reference's Spark type in the block being rendered, so plain
    double/decimal COLUMN refs qualify too (wide-fuzz find:
    l_extendedprice::long truncated on Spark but rounded on DuckDB)."""
    if isinstance(e, N.ArithmeticOp):
        if e.op == "/":
            return True
        return (_maybe_fractional_numeric(e.left, type_of)
                or _maybe_fractional_numeric(e.right, type_of))
    if isinstance(e, N.UnaryOp):
        return _maybe_fractional_numeric(e.expr, type_of)
    if isinstance(e, N.Literal):
        return e.kind == "float"
    if isinstance(e, N.Cast):
        t = e.to_type.strip().lower()
        return t.startswith(("double", "float", "real", "decimal", "numeric"))
    if isinstance(e, N.FunctionApply):
        n = e.name.lower()
        if n in _FRACTIONAL_FNS:
            return True
        if n in _NUMERIC_THROUGH_FNS:
            return any(_maybe_fractional_numeric(a, type_of) for a in e.args)
        return False
    if isinstance(e, N.MethodCall):
        if e.method.lower() in ("avg", "mean"):
            return True
        if e.method.lower() in ("sum", "min", "max"):
            return _maybe_fractional_numeric(e.target, type_of)
        return False
    if isinstance(e, N.IfExpr):
        return (_maybe_fractional_numeric(e.then, type_of)
                or (e.otherwise is not None
                    and _maybe_fractional_numeric(e.otherwise, type_of)))
    if isinstance(e, N.CaseExpr):
        branches = [v for _c, v in e.whens]
        if e.otherwise is not None:
            branches.append(e.otherwise)
        return any(_maybe_fractional_numeric(b, type_of) for b in branches)
    t = type_of(e) if type_of is not None else None
    if t in ("double", "float"):
        return True
    return (_decimal_scale(t) or 0) > 0


def _decimal_scale(t: str | None) -> int | None:
    """Scale of a decimal type's simpleString, else None."""
    m = re.match(r"decimal\(\d+,(\d+)\)", t or "")
    return int(m.group(1)) if m else None


def type_sql(t: str, dialect: str) -> str:
    base = t.strip()
    m = re.match(r"^([A-Za-z_]+)\s*(\(.*\))?$", base)
    args = ""
    if m:
        name = m.group(1).lower()
        args = m.group(2) or ""
    else:
        name = base.lower()
    mapping = {
        "int": "INTEGER", "integer": "INTEGER", "int32": "INTEGER",
        "long": "BIGINT", "bigint": "BIGINT", "int64": "BIGINT",
        "short": "SMALLINT", "byte": "TINYINT",
        "float": "FLOAT", "real": "FLOAT",
        "double": "DOUBLE",
        "string": "STRING" if dialect == SPARK else "VARCHAR",
        "varchar": "STRING" if dialect == SPARK else "VARCHAR",
        "boolean": "BOOLEAN", "bool": "BOOLEAN",
        "date": "DATE",
        "time": "TIME",   # Spark 4.1 (spark.sql.timeType.enabled) / DuckDB
        "timestamp": "TIMESTAMP",
        # tz-aware: Spark's TIMESTAMP is session-tz (LTZ) already
        "timestamptz": "TIMESTAMP" if dialect == SPARK else "TIMESTAMPTZ",
        "decimal": "DECIMAL" + args,
        "json": "STRING" if dialect == SPARK else "JSON",
        "binary": "BINARY" if dialect == SPARK else "BLOB",
        "interval": "INTERVAL",
    }
    if name in mapping:
        return mapping[name]
    low = base.lower()
    if low.startswith("array[") and base.endswith("]"):
        inner = base[base.index("[") + 1 : len(base) - 1]
        if dialect == SPARK:
            return f"ARRAY<{type_sql(inner, dialect)}>"
        return f"{type_sql(inner, dialect)}[]"
    if low.startswith("map[") and base.endswith("]"):
        inner = base[base.index("[") + 1 : len(base) - 1]
        k, v = _split_type_args(inner)
        if dialect == SPARK:
            return f"MAP<{type_sql(k, dialect)}, {type_sql(v, dialect)}>"
        return f"MAP({type_sql(k, dialect)}, {type_sql(v, dialect)})"
    if low.startswith("struct(") and base.endswith(")"):
        # `struct(id long, name string)` — SQL ROW types (sql_import
        # emits these for Trino ROW / DuckDB STRUCT casts)
        inner = base[base.index("(") + 1 : len(base) - 1]
        fields = []
        for part in _split_type_list(inner):
            bits = part.strip().split(None, 1)
            if len(bits) != 2:
                raise CompileError(f"malformed struct field: {part!r}")
            fname, ftype = bits
            if dialect == SPARK:
                fields.append(f"{fname}: {type_sql(ftype, dialect)}")
            else:
                fields.append(f"{fname} {type_sql(ftype, dialect)}")
        if dialect == SPARK:
            return "STRUCT<" + ", ".join(fields) + ">"
        return "STRUCT(" + ", ".join(fields) + ")"
    return base.upper()


def _split_type_list(s: str) -> list[str]:
    """Top-level comma split over a type list (nesting-aware)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "[(<":
            depth += 1
        elif ch in "])>":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p for p in (x.strip() for x in parts) if p]


def _split_type_args(s: str) -> tuple[str, str]:
    """'string,array[int]' -> ('string', 'array[int]') — split on the
    top-level comma only."""
    depth = 0
    for i, ch in enumerate(s):
        if ch in "[(":
            depth += 1
        elif ch in "])":
            depth -= 1
        elif ch == "," and depth == 0:
            return s[:i].strip(), s[i + 1:].strip()
    return s.strip(), "string"


@dataclass
class GenContext:
    dialect: str = SPARK
    # table name -> {column: Spark type simpleString} (best-effort; None ok)
    table_schema: object = None         # Callable[[str], dict | None]
    # pivot value prober: Callable[[sql_text], list of values] | None
    prober: object = None
    # table name -> SQL-addressable name (view registration etc.)
    table_name_map: object = None       # Callable[[str], str]


class SqlGenerator:
    def __init__(self, ctx: GenContext):
        self.ctx = ctx
        self.dialect = ctx.dialect
        self._alias_n = 0
        # types of the block expressions render against (set by gen_rel)
        self._types: dict[str, str] = {}
        # CTE name -> (columns, types) of its body; shadows catalog tables
        self._ctes: dict[str, tuple] = {}

    # ------------------------------------------------------------------ util

    def fresh(self, prefix: str = "wv") -> str:
        self._alias_n += 1
        return f"__{prefix}{self._alias_n}"

    def _type_of(self, e) -> str | None:
        """Spark type of a bare column reference (a qualified `t.col` by
        its last part) in the current block; None for a name the block
        does not type and for any other expression."""
        if self._types and isinstance(e, (N.Ident, N.Ref)):
            return self._types.get(e.name.split(".")[-1])
        return None

    def _typed(self, items: list, types: dict | None = None) -> dict:
        """`types` without the columns `items` alias, plus the types of
        the columns `items` define: a bare column reference keeps its
        type, another expression has none."""
        aliases = {it.alias for it in items}
        out = {c: t for c, t in (types or {}).items() if c not in aliases}
        for it in items:
            t = self._type_of(it.expr)
            if t is not None:
                out[self._item_name(it)] = t
        return out

    def q(self, name: str) -> str:
        if _SAFE_IDENT.match(name) and name.lower() not in _RESERVED:
            return name
        if self.dialect == SPARK:
            return "`" + name.replace("`", "``") + "`"
        return '"' + name.replace('"', '""') + '"'

    def str_lit(self, s: str) -> str:
        if self.dialect == SPARK:
            # Spark's parser processes backslash escapes inside string
            # literals ('\d' -> 'd'); standard-SQL engines do not
            return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"
        return "'" + s.replace("'", "''") + "'"

    # ------------------------------------------------------- statement entry

    def generate(self, rel: N.Relation) -> str:
        blk = self.gen_rel(rel)
        return self.render(blk)

    # -------------------------------------------------------------- blocks

    @dataclass
    class Block:
        source: str                     # FROM-clause text ('' = no input)
        where: list[str] = field(default_factory=list)
        group_keys: list | None = None  # list[N.NamedExpr] pending aggregation
        having: list[str] = field(default_factory=list)
        select: list[str] | None = None
        distinct: bool = False
        order: list[str] = field(default_factory=list)
        limit: int | None = None
        offset: int | None = None
        columns: list[str] | None = None   # best-effort output column names
        # output column -> Spark type simpleString, where known
        types: dict = field(default_factory=dict)
        # per-source-alias column lists for relations the lowering
        # flattened (asof join): lets a later `select l.*` expand to
        # explicit columns even though alias `l` no longer exists in SQL
        qcols: dict | None = None
        # the source carries mangled helper columns (asof right-side
        # copies) that must not leak into star / default output
        hidden: bool = False

    def render(self, b: Block) -> str:
        if b.group_keys is not None and b.select is None:
            self._materialize_default_agg(b)
        parts = ["SELECT"]
        if b.distinct:
            parts.append("DISTINCT")
        if b.select is None and b.hidden and b.columns:
            # hidden helper columns (asof right-side copies) stay out of
            # the default output — render the visible columns explicitly
            parts.append(", ".join(self.q(c) for c in b.columns))
        else:
            parts.append(", ".join(b.select) if b.select else "*")
        if b.source:
            parts.append("FROM " + b.source)
        if b.where:
            parts.append("WHERE " + " AND ".join(f"({w})" for w in b.where))
        if b.group_keys is not None and b.group_keys != []:
            keys = [self._group_key_sql(k.expr) for k in b.group_keys]
            parts.append("GROUP BY " + ", ".join(keys))
        elif b.group_keys == []:
            pass  # global aggregation — no GROUP BY clause
        if b.having:
            parts.append("HAVING " + " AND ".join(f"({h})" for h in b.having))
        if b.order:
            parts.append("ORDER BY " + ", ".join(b.order))
        if b.limit is not None:
            parts.append(f"LIMIT {b.limit}")
        if b.offset is not None:
            parts.append(f"OFFSET {b.offset}")
        return " ".join(parts)

    def wrap(self, b: Block) -> "SqlGenerator.Block":
        cols = b.columns
        # qualified-star expansion stays valid through a wrap only while
        # no projection has narrowed the column set
        qcols = b.qcols if b.select is None else None
        sql = self.render(b)
        # hidden helper columns do not survive a wrap (render emits the
        # visible columns explicitly) — the new block is clean
        return SqlGenerator.Block(source=f"({sql}) AS {self.q(self.fresh())}",
                                  columns=cols, qcols=qcols, types=b.types)

    def _needs_wrap_for_filter(self, b: Block) -> bool:
        return b.select is not None or b.limit is not None or b.offset is not None or bool(b.order)

    def _materialize_default_agg(self, b: Block) -> None:
        """bare `group by` — select keys + any_value(col) for non-key columns
        (reference: SqlGenerator default-arbitrary lowering)."""
        keys = b.group_keys or []
        key_sqls = []
        key_names = []
        for k in keys:
            ksql = self.expr(k.expr)
            kname = k.alias or self._derived_name(k.expr)
            key_names.append(kname)
            if k.alias:
                key_sqls.append(f"{ksql} AS {self.q(k.alias)}")
            else:
                key_sqls.append(ksql)
        # the reference aggregates EVERY input field — including columns
        # that are themselves grouping keys (SqlGenerator.defaultAggExprs
        # maps over inputRelationType.fields; spec/trino/
        # group-by-reserved-keywords.wv asserts `arbitrary(id)` is present
        # alongside the `id` key)
        agg_cols: list[str] = list(b.columns or [])
        arb = "any_value" if self.dialect == SPARK else "arbitrary"
        # output columns are NAMED arbitrary(col) regardless of dialect
        # (reference: spec/basic/nest-filter.wv expects ["age_group",
        # "arbitrary(id)", "arbitrary(age)"])
        agg_sqls = [f"{arb}({self.q(c)}) AS {self.q(f'arbitrary({c})')}"
                    for c in agg_cols]
        b.select = key_sqls + agg_sqls
        b.columns = key_names + [f"arbitrary({c})" for c in agg_cols]
        b.types = self._typed(keys)

    # ---------------------------------------------------------- relations

    def gen_rel(self, rel: N.Relation) -> "SqlGenerator.Block":
        """The block of `rel`; its column types become the scope the
        caller's expressions render against."""
        b = self._gen_rel(rel)
        self._types = b.types
        return b

    def _subquery(self, rel: N.Relation) -> str:
        """SQL of a relation nested in an expression, keeping the
        enclosing block's column types in scope."""
        types = self._types
        sql = self.render(self.gen_rel(rel))
        self._types = types
        return sql

    def _catalog_block(self, source: str, name: str) -> "SqlGenerator.Block":
        schema = self.ctx.table_schema(name) if self.ctx.table_schema else None
        return SqlGenerator.Block(
            source=source, columns=None if schema is None else list(schema),
            types=schema or {})

    def _gen_rel(self, rel: N.Relation) -> "SqlGenerator.Block":
        from wvlet_spark.parser import _HoleRelation, _NoInput

        B = SqlGenerator.Block
        if isinstance(rel, _NoInput):
            return B(source="", columns=[])
        if isinstance(rel, _HoleRelation):
            raise CompileError("unresolved partial-query hole (internal)")
        if isinstance(rel, N.TableRef):
            name = rel.name
            # CTE names shadow catalog tables within the WITH scope
            if name in self._ctes:
                cols, types = self._ctes[name]
                return B(source=self.q(name), columns=cols, types=types)
            if self.ctx.table_name_map:
                name = self.ctx.table_name_map(name)
            qname = ".".join(self.q(p) for p in name.split("."))
            return self._catalog_block(qname, rel.name)
        if isinstance(rel, N.FileScan):
            return self._gen_filescan(rel)
        if isinstance(rel, N.RawSQL):
            return B(source=f"({rel.sql}) AS {self.q(self.fresh('sql'))}")
        if isinstance(rel, N.Values):
            return self._gen_values(rel)
        if isinstance(rel, N.ModelScan):
            raise CompileError(
                f"unknown model or table function: {rel.name!r} (models must be "
                "expanded by the analyzer before SQL generation)"
            )
        if isinstance(rel, N.TableFunctionCall):
            return self._gen_table_function(rel)
        if isinstance(rel, N.AliasedRelation):
            child = self.gen_rel(rel.child)
            inner = self.render(child)
            alias = self.q(rel.alias)
            if rel.columns:
                alias += "(" + ", ".join(self.q(c) for c in rel.columns) + ")"
            cols = rel.columns or child.columns
            types = child.types if not rel.columns else {
                new: child.types[old]
                for new, old in zip(rel.columns, child.columns or ())
                if old in child.types}
            return B(source=f"({inner}) AS {alias}", columns=cols, types=types)
        if isinstance(rel, N.ParenRelation):
            child = self.gen_rel(rel.child)
            return self.wrap(child) if _block_dirty(child) else child
        if isinstance(rel, N.Filter):
            b = self.gen_rel(rel.child)
            cond = self.expr(rel.cond)
            if b.group_keys is not None and b.select is None:
                b.having.append(cond)
            else:
                if self._needs_wrap_for_filter(b):
                    b = self.wrap(b)
                b.where.append(cond)
            return b
        if isinstance(rel, N.GroupBy):
            b = self.gen_rel(rel.child)
            if b.select is not None or b.group_keys is not None or b.order or b.limit is not None:
                b = self.wrap(b)
            b.group_keys = rel.keys
            return b
        if isinstance(rel, (N.Project, N.Agg)):
            return self._gen_projection(rel)
        if isinstance(rel, N.Transform):
            return self._gen_transform(rel)
        if isinstance(rel, (N.AddColumns, N.PrependColumns)):
            b = self.gen_rel(rel.child)
            if _block_dirty(b):
                b = self.wrap(b)
            items = [self._select_item(i) for i in rel.items]
            first = isinstance(rel, N.PrependColumns)
            b.select = items + ["*"] if first else ["*"] + items
            if b.columns is not None:
                names = [self._item_name(i) for i in rel.items]
                b.columns = names + b.columns if first else b.columns + names
            b.types = self._typed(rel.items, b.types)
            return b
        if isinstance(rel, N.ExcludeColumns):
            b = self.gen_rel(rel.child)
            if _block_dirty(b):
                b = self.wrap(b)
            if self.dialect == SPARK:
                b.select = ["* EXCEPT (" + ", ".join(self.q(c) for c in rel.names) + ")"]
            else:
                b.select = ["* EXCLUDE (" + ", ".join(self.q(c) for c in rel.names) + ")"]
            if b.columns is not None:
                b.columns = [c for c in b.columns if c not in set(rel.names)]
            b.types = {c: t for c, t in b.types.items() if c not in rel.names}
            return b
        if isinstance(rel, N.RenameColumns):
            return self._gen_rename(rel)
        if isinstance(rel, N.ShiftColumns):
            b = self.gen_rel(rel.child)
            if _block_dirty(b):
                b = self.wrap(b)
            names = ", ".join(self.q(c) for c in rel.names)
            except_kw = "EXCEPT" if self.dialect == SPARK else "EXCLUDE"
            if rel.to_left:
                b.select = [names, f"* {except_kw} ({names})"]
            else:
                b.select = [f"* {except_kw} ({names})", names]
            if b.columns is not None:
                rest = [c for c in b.columns if c not in set(rel.names)]
                b.columns = (rel.names + rest) if rel.to_left else (rest + rel.names)
            return b
        if isinstance(rel, N.Join):
            return self._gen_join(rel)
        if isinstance(rel, N.SetOp):
            return self._gen_setop(rel)
        if isinstance(rel, N.Sort):
            b = self.gen_rel(rel.child)
            if b.limit is not None or b.offset is not None:
                b = self.wrap(b)
            if b.group_keys is not None and b.select is None:
                self._materialize_default_agg(b)
            b.order = [self.sort_item(s) for s in rel.items]
            return b
        if isinstance(rel, N.Limit):
            b = self.gen_rel(rel.child)
            if b.limit is not None and b.limit < rel.n:
                return b
            if b.group_keys is not None and b.select is None:
                self._materialize_default_agg(b)
            b.limit = rel.n
            return b
        if isinstance(rel, N.Offset):
            b = self.gen_rel(rel.child)
            b.offset = rel.n
            return b
        if isinstance(rel, N.Dedup):
            b = self.gen_rel(rel.child)
            if _block_dirty(b):
                b = self.wrap(b)
            b.distinct = True
            return b
        if isinstance(rel, N.Sample):
            return self._gen_sample(rel)
        if isinstance(rel, N.CountRel):
            b = self.gen_rel(rel.child)
            b = self.wrap(b)
            b.select = ["COUNT(*) AS count"]
            b.columns = ["count"]
            b.types = {}
            return b
        if isinstance(rel, N.Pivot):
            return self._gen_pivot(rel)
        if isinstance(rel, N.Unpivot):
            return self._gen_unpivot(rel)
        if isinstance(rel, N.WithQuery):
            return self._gen_with(rel)
        if isinstance(rel, (N.TestRelation, N.Debug)):
            return self.gen_rel(rel.child)
        if isinstance(rel, N.Describe):
            return self._gen_describe(rel)
        if isinstance(rel, N.Subscribe):
            # batch fallback: read the underlying model/table directly;
            # session layer implements real watermark semantics
            return self.gen_rel(rel.child)
        raise CompileError(f"SQL generation not implemented for {type(rel).__name__}")

    # ----- leaf sources

    def _gen_filescan(self, rel: N.FileScan) -> "SqlGenerator.Block":
        if self.dialect == SPARK:
            # Spark SQL direct file query: parquet.`path` / csv.`...`
            if self.ctx.table_name_map:
                mapped = self.ctx.table_name_map(rel.path)
                if mapped != rel.path:
                    return self._catalog_block(mapped, rel.path)
            return self._catalog_block(f"{rel.fmt}.`{rel.path}`", rel.path)
        fn = {"parquet": "read_parquet", "csv": "read_csv_auto", "json": "read_json_auto"}[rel.fmt]
        return self._catalog_block(f"{fn}({self.str_lit(rel.path)})", rel.path)

    def _gen_values(self, rel: N.Values) -> "SqlGenerator.Block":
        B = SqlGenerator.Block
        alias = self.q(rel.alias or self.fresh("values"))
        if not rel.rows:
            # 0-row table: `val empty(id, name) = []`
            # (reference: spec/basic/table-value-constant.wv)
            names = rel.columns or ["col1"]
            sel = ", ".join(f"NULL AS {self.q(c)}" for c in names)
            return B(source=f"(SELECT {sel} WHERE 1 = 0) AS {alias}",
                     columns=list(names))
        rows = ", ".join("(" + ", ".join(self.expr(v) for v in row) + ")" for row in rel.rows)
        cols = ""
        if rel.columns:
            cols = "(" + ", ".join(self.q(c) for c in rel.columns) + ")"
        return B(source=f"(VALUES {rows}) AS {alias}{cols}", columns=rel.columns)

    def _gen_table_function(self, rel: N.TableFunctionCall) -> "SqlGenerator.Block":
        B = SqlGenerator.Block
        if rel.name == "unnest":
            arg = self.expr(rel.args[0])
            alias = self.q(rel.alias or self.fresh("u"))
            if rel.columns and len(rel.columns) == 2:
                # positional unnest: `unnest(arr) as t(pos, val)` — Hive's
                # posexplode (0-origin position), imported from
                # `LATERAL VIEW posexplode(...)` (spec/sql/hive)
                pos, col = rel.columns
                if self.dialect == SPARK:
                    sql = (f"SELECT posexplode({arg}) AS "
                           f"({self.q(pos)}, {self.q(col)})")
                else:
                    sql = (f"SELECT generate_subscripts({arg}, 1) - 1 AS "
                           f"{self.q(pos)}, unnest({arg}) AS {self.q(col)}")
                return B(source=f"({sql}) AS {alias}", columns=[pos, col])
            col = (rel.columns[0] if rel.columns else None) or "value"
            if self.dialect == SPARK:
                sql = f"SELECT explode({arg}) AS {self.q(col)}"
                return B(source=f"({sql}) AS {alias}", columns=[col])
            sql = f"SELECT unnest({arg}) AS {self.q(col)}"
            return B(source=f"({sql}) AS {alias}", columns=[col])
        if rel.name == "unnest_struct":
            # struct expansion: `unnest_struct(arr_of_structs) as t(a, b)`
            # — one row per element, struct fields as columns (Hive's
            # `LATERAL VIEW inline(...)`)
            arg = self.expr(rel.args[0])
            cols = rel.columns or []
            alias = self.q(rel.alias or self.fresh("us"))
            colpart = "(" + ", ".join(self.q(c) for c in cols) + ")" \
                if cols else ""
            if self.dialect == SPARK:
                inner = f"SELECT inline({arg})"
            else:
                inner = f"SELECT unnest({arg}, recursive := true)"
            return B(source=f"({inner}) AS {alias}{colpart}",
                     columns=cols or None)
        if rel.name == "unnest_map":
            # map explode: `unnest_map(m) as t(k, v)` — one row per map
            # entry (Hive's 2-column `LATERAL VIEW explode(<map>)`)
            arg = self.expr(rel.args[0])
            k, v = (rel.columns or ["key", "value"])[:2]
            alias = self.q(rel.alias or self.fresh("um"))
            if self.dialect == SPARK:
                sql = f"SELECT explode({arg}) AS ({self.q(k)}, {self.q(v)})"
            else:
                # DuckDB zips parallel unnests positionally
                sql = (f"SELECT unnest(map_keys({arg})) AS {self.q(k)}, "
                       f"unnest(map_values({arg})) AS {self.q(v)}")
            return B(source=f"({sql}) AS {alias}", columns=[k, v])
        args = ", ".join(self.expr(a) for a in rel.args)
        alias = self.q(rel.alias or self.fresh("tf"))
        return B(source=f"{rel.name}({args}) AS {alias}", columns=rel.columns)

    # ----- projection / aggregation

    def _gen_projection(self, rel) -> "SqlGenerator.Block":
        b = self.gen_rel(rel.child)
        is_agg_op = isinstance(rel, N.Agg)
        items = rel.items
        if b.select is not None or (b.order and not is_agg_op) or b.limit is not None:
            b = self.wrap(b)

        if b.group_keys is not None:
            if is_agg_op and self.dialect == SPARK and not b.hidden \
                    and any(isinstance(k.expr, N.FunctionApply)
                            and k.expr.name.lower() in self._GROUP_MODIFIERS
                            for k in b.group_keys):
                b, items = self._stage_expand_agg_inputs(b, items)
            # aggregation projection
            key_items: list[str] = []
            key_names: list[str] = []
            for k in b.group_keys:
                for ksql, kname in self._group_key_columns(k):
                    key_names.append(kname)
                    key_items.append(ksql)
            sel_items: list[str] = []
            names: list[str] = []
            if is_agg_op:
                sel_items.extend(key_items)
                names.extend(key_names)
            for it in items:
                if isinstance(it, N.Star):
                    sel_items.extend(key_items)
                    names.extend(key_names)
                    continue
                cm = self._expand_columns_matching(it, b)
                if cm is not None:
                    sel_items.extend(self.q(c) for c in cm)
                    names.extend(cm)
                    continue
                sel_items.append(self._select_item(it, group_keys=b.group_keys))
                names.append(self._item_name(it, b.group_keys))
            b.select = sel_items
            b.columns = names
            # an output column keeps a type only as a bare-column key
            b.types = {c: t for c, t in self._typed(b.group_keys).items()
                       if c in names}
            if getattr(rel, "distinct", False):
                b = self.wrap(b)
                b.distinct = True
            return b

        # global aggregation without group by: `agg` with agg funcs only
        if is_agg_op:
            b.group_keys = []
            b.select = [self._select_item(it) for it in items]
            b.columns = [self._item_name(it) for it in items]
            b.types = {}
            return b

        sel: list[str] = []
        names: list[str] = []
        types: dict = {}   # output column -> type (None: untyped)
        for it in items:
            if isinstance(it, N.Star):
                types.update(b.types)   # a star passes its input's types
                if it.qualifier and b.qcols \
                        and b.qcols.get(it.qualifier) is not None:
                    # the qualifier names a relation the lowering
                    # flattened (asof join) — expand to explicit columns
                    expand = b.qcols[it.qualifier]
                    sel.extend(self.q(c) for c in expand)
                    names.extend(expand)
                    continue
                if not it.qualifier and b.hidden and b.columns:
                    # bare * over a source with hidden helper columns —
                    # expand to the visible columns only
                    sel.extend(self.q(c) for c in b.columns)
                    names.extend(b.columns)
                    continue
                sel.append("*" if not it.qualifier else f"{self.q(it.qualifier)}.*")
                if b.columns:
                    names.extend(b.columns)
                continue
            cm = self._expand_columns_matching(it, b)
            if cm is not None:
                sel.extend(self.q(c) for c in cm)
                names.extend(cm)
                types.update((c, b.types.get(c)) for c in cm)
                continue
            sel.append(self._select_item(it))
            names.append(self._item_name(it))
            types[names[-1]] = self._type_of(it.expr)
        # a plain select containing aggregate functions = implicit global agg
        if any(self._contains_agg(it.expr) for it in items if isinstance(it, N.NamedExpr)):
            b.group_keys = []
        b.select = sel
        b.distinct = getattr(rel, "distinct", False)
        b.columns = names
        b.types = {c: t for c, t in types.items() if t is not None}
        return b

    _GROUP_MODIFIERS = ("cube", "rollup", "grouping_sets")

    def _group_key_sql(self, e: N.Expr) -> str:
        """GROUP BY item; multi-grouping modifiers render as SQL keywords:
        cube(a,b) -> CUBE(a, b), grouping_sets((a,b),(a)) -> GROUPING SETS
        ((a, b), (a)).  Both Spark and DuckDB accept these forms."""
        if isinstance(e, N.FunctionApply) and e.name.lower() in self._GROUP_MODIFIERS:
            for a in e.args:
                # `rollup(seg, k = expr)` parses `k = expr` as a boolean
                # comparison — silently grouping on a boolean is never
                # what the user meant; point at the working form
                if isinstance(a, N.Comparison) and a.op == "=" \
                        and isinstance(a.left, N.Ident):
                    raise CompileError(
                        f"cannot alias a key inside {e.name.lower()}(); "
                        f"derive it first: `add {a.left.name} = ...` then "
                        f"`group by {e.name.lower()}(..., {a.left.name})`")
            args = ", ".join(self.expr(a) for a in e.args)
            kw = {"cube": "CUBE", "rollup": "ROLLUP",
                  "grouping_sets": "GROUPING SETS"}[e.name.lower()]
            return f"{kw} ({args})"
        return self.expr(e)

    def _group_key_columns(self, k: N.NamedExpr) -> list[tuple[str, str]]:
        """(select_sql, name) pairs a group key contributes to the output.
        A cube/rollup/grouping-sets key contributes each underlying column."""
        e = k.expr
        if isinstance(e, N.FunctionApply) and e.name.lower() in self._GROUP_MODIFIERS:
            out: list[tuple[str, str]] = []
            seen: set[str] = set()
            for a in e.args:
                cols = a.items if isinstance(a, N.RowCtor) else [a]
                for c in cols:
                    name = self._derived_name(c)
                    if name not in seen:
                        seen.add(name)
                        out.append((self.expr(c), name))
            return out
        name = k.alias or self._derived_name(e)
        sql = self.expr(e)
        return [(f"{sql} AS {self.q(name)}" if k.alias else sql, name)]

    def _stage_expand_agg_inputs(self, b, items):
        """Under cube/rollup/grouping-sets, Spark's Expand duplicates every
        input row once per grouping set BEFORE the partial aggregate, so a
        non-trivial aggregate argument (a decimal product, say) is
        re-computed N_sets times per input row.  Stage such arguments ONCE
        in a projection below the group-by and aggregate the staged columns
        instead — identical results (the staged value is exactly what each
        duplicated row would compute), measured 2.5 s -> 1.2 s on the
        3-set rollup tpcds_q36_margin_rank at sf0.1 (round 9).

        Only deterministic, aggregate-free, window-free arguments that are
        not already bare columns/literals are staged; Spark-dialect only
        (DuckDB computes grouping sets without an expand)."""
        import dataclasses as _dc

        from wvlet_spark.analyzer import transform as ast_transform, walk

        staged: dict[str, str] = {}
        staged_order: list[tuple[str, str]] = []

        def try_stage(e):
            """Staged replacement Ident for e, or None when e must stay
            in place (trivial: star / bare column / literal — decided on
            the RENDERED SQL, since several node shapes render to these;
            unsafe: contains an aggregate, window, or non-deterministic
            call)."""
            if isinstance(e, (N.Ident, N.Literal, N.Star)) \
                    or self._contains_agg(e) \
                    or any(_varies_per_row(n) for n in walk(e)):
                return None
            sql = self.expr(e)
            if sql == "*" or sql.endswith(".*") or re.fullmatch(
                    r"`[^`]*`|[A-Za-z_][A-Za-z0-9_]*"
                    r"|[-+]?\d+(?:\.\d+)?|'[^']*'", sql):
                return None
            name = staged.get(sql)
            if name is None:
                name = f"__wv_ea{len(staged)}"
                staged[sql] = name
                staged_order.append((sql, name))
            return N.Ident(name)

        def fix(x):
            if isinstance(x, N.FunctionApply) \
                    and x.name.lower() in AGG_FUNCS \
                    and getattr(x, "window", None) is None:
                new_args = [try_stage(a) or a for a in x.args]
                if any(n is not o for n, o in zip(new_args, x.args)):
                    return _dc.replace(x, args=new_args)
            if isinstance(x, N.MethodCall) \
                    and x.method.lower() in AGG_FUNCS \
                    and getattr(x, "window", None) is None:
                t = try_stage(x.target)
                if t is not None:
                    return _dc.replace(x, target=t)
            return x

        new_items = [ast_transform(it, expr_fn=fix) for it in items]
        if not staged:
            return b, items
        # wrap the child with the staging projection, keeping the pending
        # aggregation state (keys / HAVING / ORDER) on the outer block
        gk, hv, od = b.group_keys, b.having, b.order
        orig_cols = b.columns
        b.group_keys, b.having, b.order = None, [], []
        b.select = ["*"] + [f"{sql} AS {self.q(nm)}"
                            for sql, nm in staged_order]
        b = self.wrap(b)
        b.group_keys, b.having, b.order = gk, hv, od
        b.columns = orig_cols  # staged helpers stay out of star expansion
        return b, new_items

    def _expand_columns_matching(self, it, b) -> list[str] | None:
        """Child columns matched by a `columns_matching('regex')` select
        item (the lowering DuckDB's columns() imports onto; expanded
        here, where the input schema is known), else None."""
        e = it.expr if isinstance(it, N.NamedExpr) else None
        if not isinstance(e, N.FunctionApply) \
                or e.name.lower() != "columns_matching" \
                or len(e.args) != 1 \
                or not isinstance(e.args[0], N.Literal) \
                or e.args[0].kind != "string":
            return None
        if it.alias:
            raise CompileError(
                "columns_matching() cannot be aliased (DuckDB renames "
                "via regex capture groups — not supported)")
        if b.columns is None:
            raise CompileError(
                "columns_matching() requires known input columns")
        rx = re.compile(str(e.args[0].value))
        cols = [c for c in b.columns if rx.search(c)]
        if not cols:
            raise CompileError(
                f"columns_matching({e.args[0].value!r}) matched no "
                f"input columns")
        return cols

    def _select_item(self, it: N.NamedExpr, group_keys=None) -> str:
        key = self._group_key(it, group_keys)
        sql = self.expr(key.expr if key else it.expr)
        if key or it.alias or not isinstance(it.expr, (N.Ident, N.Ref, N.Star)):
            return f"{sql} AS {self.q(self._item_name(it, group_keys))}"
        return sql

    @staticmethod
    def _group_key(it: N.NamedExpr, group_keys) -> N.NamedExpr | None:
        """The group key a bare identifier names: an aliased key's alias
        (`group by y = f(x) select y, ...`), else a positional `_1 _2 ...`."""
        if not group_keys or not isinstance(it.expr, N.Ident):
            return None
        for k in group_keys:
            if k.alias and k.alias == it.expr.name:
                return k
        m = re.fullmatch(r"_(\d+)", it.expr.name)
        if m and 1 <= int(m.group(1)) <= len(group_keys):
            return group_keys[int(m.group(1)) - 1]
        return None

    def _display_name(self, e: N.Expr) -> str:
        """Reference-style auto-name: the DuckDB rendering of the expression."""
        if self.dialect == DUCKDB:
            return self.expr(e)
        g = SqlGenerator(replace(self.ctx, dialect=DUCKDB))
        try:
            return g.expr(e)
        except Exception:
            return self.expr(e)

    def _item_name(self, it, group_keys=None) -> str:
        """The output name of select item `it`, the one its SQL gives it."""
        if isinstance(it, N.Star):
            return "*"
        key = self._group_key(it, group_keys)
        if it.alias or key:
            return it.alias or key.alias or self._derived_name(key.expr)
        if isinstance(it.expr, (N.Ident, N.Ref, N.Star)):
            return self._derived_name(it.expr)
        # unaliased expressions are named by their DuckDB-dialect text —
        # the reference's output naming (spec/basic/string-concat.wv
        # expects a column literally called `concat('hello', ' wvlet!')`)
        return self._display_name(it.expr)

    def _derived_name(self, e: N.Expr) -> str:
        # asof right-side mangling never leaks into OUTPUT names
        if isinstance(e, N.Ident):
            return e.name.replace(N.ASOF_RIGHT_MARK, "")
        if isinstance(e, N.Ref):
            return e.name
        if isinstance(e, N.Cast):
            return self._derived_name(e.expr)
        if isinstance(e, N.MethodCall):
            inner = self._derived_name(e.target)
            return f"{e.method}({inner})"
        if isinstance(e, N.FunctionApply):
            return e.name
        return self.expr(e).replace(N.ASOF_RIGHT_MARK, "")

    def _gen_transform(self, rel: N.Transform) -> "SqlGenerator.Block":
        b = self.gen_rel(rel.child)
        if _block_dirty(b):
            b = self.wrap(b)
        updates = {it.alias: self.expr(it.expr) for it in rel.items if it.alias}
        if b.columns:
            sel = []
            for c in b.columns:
                if c in updates:
                    sel.append(f"{updates[c]} AS {self.q(c)}")
                else:
                    sel.append(self.q(c))
            b.select = sel
        else:
            except_kw = "EXCEPT" if self.dialect == SPARK else "EXCLUDE"
            names = ", ".join(self.q(c) for c in updates)
            b.select = [f"* {except_kw} ({names})"] + [
                f"{sql} AS {self.q(c)}" for c, sql in updates.items()
            ]
        b.types = self._typed([it for it in rel.items if it.alias], b.types)
        return b

    def _gen_rename(self, rel: N.RenameColumns) -> "SqlGenerator.Block":
        b = self.gen_rel(rel.child)
        if _block_dirty(b):
            b = self.wrap(b)
        ren = dict(rel.renames)
        if b.columns:
            sel = []
            out = []
            for c in b.columns:
                if c in ren:
                    sel.append(f"{self.q(c)} AS {self.q(ren[c])}")
                    out.append(ren[c])
                else:
                    sel.append(self.q(c))
                    out.append(c)
            b.select = sel
            b.columns = out
        elif self.dialect == DUCKDB:
            pairs = ", ".join(f"{self.q(a)} AS {self.q(c)}" for a, c in rel.renames)
            b.select = [f"* RENAME ({pairs})"]
        else:
            olds = ", ".join(self.q(a) for a, _ in rel.renames)
            b.select = [f"* EXCEPT ({olds})"] + [
                f"{self.q(a)} AS {self.q(c)}" for a, c in rel.renames
            ]
        b.types = {ren.get(c, c): t for c, t in b.types.items()}
        return b

    # ----- joins

    def _gen_join(self, rel: N.Join) -> "SqlGenerator.Block":
        B = SqlGenerator.Block
        if rel.asof:
            return self._gen_asof_join(rel)
        lb = self.gen_rel(rel.left)
        if _block_dirty(lb):
            lb = self.wrap(lb)
        if isinstance(rel.right, N.Lateral):
            lat = rel.right
            inner = self.render(self.gen_rel(lat.child))
            alias = self.q(lat.alias or self.fresh("lat"))
            if lat.columns:
                alias += "(" + ", ".join(self.q(c) for c in lat.columns) + ")"
            rb = SqlGenerator.Block(source="", columns=lat.columns)
            rsrc = f"LATERAL ({inner}) AS {alias}"
        elif isinstance(rel.right, N.TableFunctionCall):
            # `cross join unnest(col)` references left-side columns —
            # correlated, so the subquery must be LATERAL
            # (reference: spec/basic/unnest-cross-join.wv)
            rb = self.gen_rel(rel.right)
            rsrc = f"LATERAL {rb.source}"
        else:
            rb = self.gen_rel(rel.right)
            right_alias = _relation_alias(rel.right)
            if _block_dirty(rb) or right_alias is None:
                rsrc = f"({self.render(rb)}) AS {self.q(right_alias or self.fresh('r'))}"
            else:
                rsrc = rb.source
        jt = {
            "inner": "JOIN", "left": "LEFT JOIN", "right": "RIGHT JOIN",
            "full": "FULL JOIN", "cross": "CROSS JOIN",
        }[rel.join_type]
        self._types = types = _join_types(lb, rb)
        if rel.natural:
            # NATURAL JOIN renders natively on both targets; output =
            # shared columns once, then each side's own columns
            if rel.join_type == "cross":
                raise CompileError("natural cross join is not valid")
            src = f"{lb.source} NATURAL {jt} {rsrc}"
            if lb.columns is not None and rb.columns is not None:
                shared = [c for c in lb.columns if c in set(rb.columns)]
                cols = (shared
                        + [c for c in lb.columns if c not in shared]
                        + [c for c in rb.columns if c not in shared])
            else:
                cols = None
        elif rel.using:
            using = ", ".join(self.q(c) for c in rel.using)
            src = f"{lb.source} {jt} {rsrc} USING ({using})"
            cols = (
                rel.using
                + [c for c in lb.columns if c not in rel.using]
                + [c for c in rb.columns if c not in rel.using]
            ) if (lb.columns is not None and rb.columns is not None) else None
        elif rel.cond is not None:
            src = f"{lb.source} {jt} {rsrc} ON {self.expr(rel.cond)}"
            cols = (lb.columns + rb.columns) if (lb.columns is not None and rb.columns is not None) else None
        else:
            src = f"{lb.source} CROSS JOIN {rsrc}"
            cols = (lb.columns + rb.columns) if (lb.columns is not None and rb.columns is not None) else None
        out = B(source=src, columns=cols, types=types)
        out.where.extend(lb.where)
        return out

    def _gen_asof_join(self, rel: N.Join) -> "SqlGenerator.Block":
        """AsOf join: for each left row pick the single best matching right row
        by the inequality condition (most recent for <=/<).

        Spark lowering (no native asof): tag left rows with a unique id,
        inner/left join on the full condition, keep row_number()=1 per left id
        ordered by the right-side inequality column.  DuckDB has native ASOF.
        (reference semantics: website/docs/syntax/asof-join.md)
        """
        B = SqlGenerator.Block
        if rel.cond is None:
            raise CompileError("asof join requires an ON condition")
        jt = "LEFT JOIN" if rel.join_type == "left" else "JOIN"
        left_alias = _relation_alias(rel.left) or "l"
        right_alias = _relation_alias(rel.right) or "r"
        lb = self.gen_rel(rel.left)
        lsql = self.render(lb)
        rb = self.gen_rel(rel.right)
        rsql = self.render(rb)
        self._types = types = _join_types(lb, rb)

        # columns duplicated on both sides resolve to the LEFT side for
        # unqualified refs and star output (matches the reference's
        # output for `select symbol, date, ...` after asof); the
        # DUPLICATED right columns additionally ride along under mangled
        # names so explicit `r.col` refs (rewritten by the analyzer to
        # ASOF_RIGHT_MARK + col) keep their true right-side values.
        # Catalyst prunes the unreferenced copies, so the extra width is
        # plan-only.
        hidden = False
        qcols = None
        if lb.columns is not None and rb.columns is not None:
            lset = set(lb.columns)
            right_only = [c for c in rb.columns if c not in lset]
            dup = [c for c in rb.columns if c in lset]
            parts = [f"{self.q(right_alias)}.{self.q(c)}" for c in right_only]
            parts += [f"{self.q(right_alias)}.{self.q(c)} AS "
                      f"{self.q(N.ASOF_RIGHT_MARK + c)}" for c in dup]
            rproj = ", ".join(parts)
            cols = lb.columns + right_only
            hidden = bool(dup)
            # alias -> columns of the flattened output: `r.*` expands to
            # the right-only columns, which are the ones that survive
            qcols = {left_alias: list(lb.columns), right_alias: right_only}
        else:
            rproj = f"{self.q(right_alias)}.*"
            cols = None
        lsel = f"{self.q(left_alias)}.*" + (f", {rproj}" if rproj else "")

        if self.dialect == DUCKDB:
            src = (
                f"(SELECT {lsel} "
                f"FROM ({lsql}) AS {self.q(left_alias)} ASOF {jt} ({rsql}) AS {self.q(right_alias)} "
                f"ON {self.expr(rel.cond)}) AS {self.q(self.fresh('asof'))}"
            )
            return B(source=src, columns=cols, hidden=hidden, types=types,
                     qcols=qcols)

        lid = "__wv_asof_lid"
        rn = "__wv_asof_rn"
        order_expr, descending = self._asof_order(rel.cond, right_alias)
        direction = "DESC" if descending else "ASC"
        inner = (
            f"SELECT {lsel}, "
            f"ROW_NUMBER() OVER (PARTITION BY {self.q(left_alias)}.{lid} "
            f"ORDER BY {order_expr} {direction} NULLS LAST) AS {rn} "
            f"FROM (SELECT *, monotonically_increasing_id() AS {lid} FROM ({lsql})) AS {self.q(left_alias)} "
            f"{jt} ({rsql}) AS {self.q(right_alias)} ON {self.expr(rel.cond)}"
        )
        outer = (
            f"SELECT * EXCEPT ({lid}, {rn}) FROM ({inner}) AS {self.q(self.fresh('asof'))} "
            f"WHERE {rn} = 1"
        )
        return B(source=f"({outer}) AS {self.q(self.fresh('asofo'))}", columns=cols,
                 hidden=hidden, types=types, qcols=qcols)

    def _asof_order(self, cond: N.Expr, right_alias: str) -> tuple[str, bool]:
        """Find the inequality conjunct; return (right-side order expr SQL,
        descending?)."""
        conjuncts: list[N.Expr] = []

        def collect(e):
            if isinstance(e, N.And):
                collect(e.left)
                collect(e.right)
            else:
                conjuncts.append(e)

        collect(cond)
        for c in conjuncts:
            if isinstance(c, N.Comparison) and c.op in ("<", "<=", ">", ">="):
                left_is_right = _references_alias(c.left, right_alias)
                right_is_right = _references_alias(c.right, right_alias)
                if left_is_right and not right_is_right:
                    # right_expr OP left_expr : e.g. stock.date <= holding.date
                    return self.expr(c.left), c.op in ("<", "<=")
                if right_is_right and not left_is_right:
                    # holding.date >= stock.date → same as stock.date <= holding.date
                    return self.expr(c.right), c.op in (">", ">=")
        for c in conjuncts:
            if isinstance(c, N.Comparison) and c.op in ("<", "<=", ">", ">="):
                return self.expr(c.left), c.op in ("<", "<=")
        raise CompileError("asof join requires an inequality condition (e.g. r.time <= l.time)")

    # ----- set ops

    def _try_fuse_intersect(self, rel: N.SetOp) -> "SqlGenerator.Block | None":
        """INTERSECT branches that are the same projection over the same
        source and differ ONLY in their filter predicate collapse to one
        pass over the source:

            SELECT P FROM S WHERE p1
            INTERSECT SELECT P FROM S WHERE p2 ...
          = SELECT P FROM S WHERE p1 OR ... OR pn
            GROUP BY P
            HAVING max(CASE WHEN p1 THEN 1 ELSE 0 END) = 1 AND ...

        Set semantics line up exactly: INTERSECT emits the distinct rows
        present in every branch (null-safe row equality), GROUP BY groups
        with the same null-safe equality, and max(CASE WHEN p_i ...)=1 is
        precisely "some source row with this projection satisfied p_i".
        The rewrite deletes n-1 executions of S — for the TPC-DS q14
        cross-channel shape S is a fact-table join, so n-1 scans of the
        biggest table plus n-1 joins disappear (guide §2.4: remove
        shuffles/passes outright; §1.2 step 1: the distributed algorithm
        first).  Applies only when every branch matches the pattern and
        one-evaluation safety is provable: deterministic, subquery-free,
        aggregate-free, window-free items and predicates, and a
        deterministic common source (Spark dialect only — DuckDB is the
        oracle side and stays the literal set op)."""
        from wvlet_spark.analyzer import walk

        if self.dialect != SPARK:
            return None
        if os.environ.get("WVLET_SPARK_FUSE_INTERSECT", "1") == "0":
            return None  # A/B kill switch (measurement harnesses)

        branches: list[N.Relation] = []

        def flat(r: N.Relation) -> None:
            if isinstance(r, N.SetOp) and r.op == "intersect":
                flat(r.left)
                flat(r.right)
            else:
                branches.append(r)

        flat(rel)
        if len(branches) < 2:
            return None
        parsed: list[tuple[list, N.Expr, N.Relation]] = []
        for b in branches:
            while isinstance(b, N.ParenRelation):
                b = b.child
            if not isinstance(b, N.Project) or not isinstance(b.child, N.Filter):
                return None
            if any(not isinstance(it, N.NamedExpr) for it in b.items):
                return None
            parsed.append((b.items, b.child.cond, b.child.child))
        items0, _, common0 = parsed[0]
        if any(its != items0 or c != common0 for its, _, c in parsed[1:]):
            return None

        def unsafe(x) -> bool:
            return any(isinstance(n, (N.InSubquery, N.Exists,
                                      N.ScalarSubquery, N.Sample))
                       or _varies_per_row(n) for n in walk(x))

        preds = [p for _, p, _ in parsed]
        if unsafe(common0) or any(unsafe(e) or self._contains_agg(e)
                                  for e in [it.expr for it in items0] + preds):
            return None

        b = self.gen_rel(common0)
        # mirror _gen_filter's wrap policy so predicate column references
        # resolve exactly as they did in each original branch (a wrapped
        # subquery drops source aliases; an un-dirty join keeps them)
        if b.group_keys is not None:
            return None  # pending aggregation — WHERE vs HAVING differs
        if self._needs_wrap_for_filter(b):
            b = self.wrap(b)
        pred_sqls = [self.expr(p) for p in preds]
        b.where.append(" OR ".join(f"({p})" for p in pred_sqls))
        sel: list[str] = []
        names: list[str] = []
        for it in items0:
            esql = self.expr(it.expr)
            name = it.alias or self._derived_name(it.expr)
            sel.append(f"{esql} AS {self.q(name)}" if it.alias else esql)
            names.append(name)
        b.select = sel
        b.columns = names
        b.types = self._typed(items0)
        b.group_keys = [N.NamedExpr(expr=it.expr, alias=None) for it in items0]
        b.having = [f"max(CASE WHEN ({p}) THEN 1 ELSE 0 END) = 1"
                    for p in pred_sqls]
        # downstream consumers see a dirty block and wrap as usual
        return b

    def _gen_setop(self, rel: N.SetOp) -> "SqlGenerator.Block":
        B = SqlGenerator.Block
        if rel.op == "intersect":
            fused = self._try_fuse_intersect(rel)
            if fused is not None:
                return fused
        lb = self.gen_rel(rel.left)
        l = self.render(lb)
        rb = self.gen_rel(rel.right)
        r = self.render(rb)
        kw = {
            "union_all": "UNION ALL",
            "union": "UNION",
            "intersect": "INTERSECT",
            "intersect_all": "INTERSECT ALL",
            "except": "EXCEPT",
            "except_all": "EXCEPT ALL",
        }[rel.op]
        # parenthesize operands so branch-local ORDER BY / LIMIT binds to
        # its own branch, not the whole union (round-5 probe find: an
        # unparenthesized branch LIMIT was a Spark parse error)
        # a column keeps a type both branches give it
        types = {c: lb.types[c] for c, rc in zip(lb.columns or (), rb.columns or ())
                 if c in lb.types and rb.types.get(rc) == lb.types[c]}
        return B(source=f"(({l}) {kw} ({r})) AS {self.q(self.fresh('set'))}",
                 columns=lb.columns, types=types)

    # ----- sampling

    def _gen_sample(self, rel: N.Sample) -> "SqlGenerator.Block":
        b = self.gen_rel(rel.child)
        if _block_dirty(b):
            b = self.wrap(b)
        if rel.method == "reservoir" and rel.is_rows:
            # fixed-size sample: deterministic via seeded rand + top-n
            b2 = self.wrap(b)
            rand = "rand(42)" if self.dialect == SPARK else "random()"
            b2.order = [rand]
            b2.limit = int(rel.size)
            return self.wrap(b2)
        if self.dialect == SPARK:
            clause = (f"TABLESAMPLE ({int(rel.size)} ROWS)" if rel.is_rows
                      else f"TABLESAMPLE ({rel.size} PERCENT)")
            if _SAFE_IDENT.match(b.source):
                # bare table: attach directly so sampling pushes into the scan
                b.source += f" {clause}"
            else:
                # Spark's grammar rejects TABLESAMPLE after an aliased
                # relation (`(VALUES ...) AS t(x) TABLESAMPLE` is a parse
                # error); re-wrap as an anonymous subquery, which it accepts
                b.source = (f"(SELECT * FROM {b.source}) {clause} "
                            f"AS {self.q(self.fresh('samp'))}")
            return b
        # duckdb
        if rel.is_rows:
            b.source += f" USING SAMPLE {int(rel.size)} ROWS"
        else:
            method = rel.method if rel.method != "default" else "bernoulli"
            b.source += f" USING SAMPLE {rel.size} PERCENT ({method})"
        return b

    # ----- pivot / unpivot

    def _gen_pivot(self, rel: N.Pivot) -> "SqlGenerator.Block":
        """Pivot lowered to group-by + conditional aggregation — the same
        rewrite the reference applies for engines without native PIVOT
        (TrinoRewritePivot semantics), and what Catalyst does internally."""
        b = self.gen_rel(rel.child)
        if _block_dirty(b):
            b = self.wrap(b)
        pivot_sql = self.expr(rel.pivot_col)
        values = rel.values
        if values is None:
            if self.ctx.prober is None:
                raise CompileError("pivot without IN values requires a value prober")
            probe_sql = f"SELECT DISTINCT {pivot_sql} AS v FROM {b.source} ORDER BY v LIMIT 1000"
            values = [N.Literal(v, _literal_kind(v)) for v in self.ctx.prober(probe_sql)]
        agg_items = rel.agg_items or [N.NamedExpr(N.MethodCall(N.Underscore(), "count"), None)]
        group_by = rel.group_by
        if getattr(rel, "group_all_others", False):
            # `group by *` — every input column not referenced by the
            # pivot column or the aggregates (DuckDB PIVOT-statement
            # implicit grouping; input order preserved)
            if b.columns is None:
                raise CompileError(
                    "pivot group by * requires known input columns")
            used: set[str] = set()
            _collect_expr_idents(rel.pivot_col, used)
            for it in agg_items:
                _collect_expr_idents(it.expr, used)
            group_by = [N.NamedExpr(N.Ident(c), None)
                        for c in b.columns if c.lower() not in used]
        sel: list[str] = []
        names: list[str] = []
        for k in group_by:
            ksql = self.expr(k.expr)
            kname = k.alias or self._derived_name(k.expr)
            sel.append(f"{ksql} AS {self.q(kname)}" if k.alias else ksql)
            names.append(kname)
        for v in values:
            vsql = self.expr(v)
            vname = str(v.value) if isinstance(v, N.Literal) else self.expr(v)
            for it in agg_items:
                fn_sql = self._conditional_agg(it.expr, f"({pivot_sql} = {vsql})")
                label = vname if len(agg_items) == 1 else \
                    f"{vname}_{it.alias or self._derived_name(it.expr)}"
                sel.append(f"{fn_sql} AS {self.q(label)}")
                names.append(label)
        b.group_keys = list(group_by)
        b.select = sel
        b.columns = names
        b.types = self._typed(group_by)
        return b

    def _conditional_agg(self, e: N.Expr, cond_sql: str) -> str:
        """Render aggregate expr filtered by cond (FILTER clause works on both
        Spark and DuckDB)."""
        agg_sql = self.expr(e)
        return f"{agg_sql} FILTER (WHERE {cond_sql})"

    def _gen_unpivot(self, rel: N.Unpivot) -> "SqlGenerator.Block":
        B = SqlGenerator.Block
        b = self.gen_rel(rel.child)
        if _block_dirty(b):
            b = self.wrap(b)
        if b.columns is None:
            raise CompileError("unpivot requires known input columns")
        ids = [c for c in b.columns if c not in set(rel.columns)]
        # native UNPIVOT on both engines: ONE scan of the input (the
        # union-per-column lowering reads it N times — a non-starter at
        # scale) and row-major output order, matching the reference
        # (spec/basic/unpivot.wv)
        in_cols = ", ".join(self.q(c) for c in rel.columns)
        src = (
            f"(SELECT * FROM {b.source} UNPIVOT ({self.q(rel.value_col)} "
            f"FOR {self.q(rel.name_col)} IN ({in_cols})))"
        )
        cols = ids + [rel.name_col, rel.value_col]
        return B(source=f"{src} AS {self.q(self.fresh('unpv'))}", columns=cols,
                 types={c: t for c, t in b.types.items() if c in ids})

    # ----- with / describe

    def _gen_with(self, rel: N.WithQuery) -> "SqlGenerator.Block":
        B = SqlGenerator.Block
        defs = []
        # record each CTE's output columns and types so body references
        # (esp. the asof-join projection, which must know both sides'
        # columns to avoid duplicating shared names) can resolve them
        for name, q in rel.defs:
            # `with recursive t(n) as {...}` — the parser wraps the body
            # in an AliasedRelation carrying the column list; unwrap it
            # and emit the SQL CTE column-alias form `t(n) AS (...)`,
            # because wrapping the union in SELECT * FROM (...) AS t(n)
            # breaks the recursion detector (round-5 probe find)
            head, cte_cols = self.q(name), None
            if rel.recursive and isinstance(q, N.AliasedRelation) \
                    and q.columns:
                cte_cols = list(q.columns)
                head = f"{self.q(name)}({', '.join(self.q(c) for c in cte_cols)})"
                q = q.child
            if rel.recursive and isinstance(q, N.SetOp) and q.op in ("union_all", "union"):
                # the recursion detector needs the UNION [ALL] as the CTE
                # definition's top node — wrapping it in SELECT * FROM (...)
                # breaks WITH RECURSIVE on both Spark and DuckDB.
                # Parenthesized operands are fine.
                l = self.render(self.gen_rel(q.left))
                r = self.render(self.gen_rel(q.right))
                kw = "UNION ALL" if q.op == "union_all" else "UNION"
                self._ctes[name] = (cte_cols, {})
                defs.append(f"{head} AS (({l}) {kw} ({r}))")
            else:
                qb = self.gen_rel(q)
                self._ctes[name] = (qb.columns, qb.types)
                defs.append(f"{self.q(name)} AS ({self.render(qb)})")
        bb = self.gen_rel(rel.body)
        kw = "WITH RECURSIVE " if rel.recursive else "WITH "
        sql = kw + ", ".join(defs) + " " + self.render(bb)
        return B(source=f"({sql}) AS {self.q(self.fresh('cte'))}",
                 types=bb.types)

    def _gen_describe(self, rel: N.Describe) -> "SqlGenerator.Block":
        B = SqlGenerator.Block
        inner = self.render(self.gen_rel(rel.child))
        if self.dialect == DUCKDB:
            return B(source=f"(DESCRIBE {inner})")
        return B(source=f"(DESCRIBE QUERY {inner})")

    # ------------------------------------------------------------ expressions

    def expr(self, e: N.Expr) -> str:
        if isinstance(e, N.Literal):
            return self._literal(e)
        if isinstance(e, N.Ident):
            sub = getattr(self, "_lambda_ix_subst", None)
            if sub and e.name in sub:
                return sub[e.name]
            return self.q(e.name)
        if isinstance(e, N.Ref):
            return f"{self.expr(e.qualifier)}.{self.q(e.name)}"
        if isinstance(e, N.Star):
            return f"{self.q(e.qualifier)}.*" if e.qualifier else "*"
        if isinstance(e, N.Underscore):
            return "*"
        if isinstance(e, N.FunctionApply):
            return self._function(e)
        if isinstance(e, N.MethodCall):
            return self._method(e)
        if isinstance(e, N.ArithmeticOp):
            return self._arith(e)
        if isinstance(e, N.UnaryOp):
            return f"(-{self.expr(e.expr)})" if e.op == "-" else self.expr(e.expr)
        if isinstance(e, N.Comparison):
            return f"({self.expr(e.left)} {e.op} {self.expr(e.right)})"
        if isinstance(e, N.And):
            return f"({self.expr(e.left)} AND {self.expr(e.right)})"
        if isinstance(e, N.Or):
            return f"({self.expr(e.left)} OR {self.expr(e.right)})"
        if isinstance(e, N.Not):
            return f"(NOT {self.expr(e.expr)})"
        if isinstance(e, N.Between):
            kw = "NOT BETWEEN" if e.negated else "BETWEEN"
            return f"({self.expr(e.expr)} {kw} {self.expr(e.lower)} AND {self.expr(e.upper)})"
        if isinstance(e, N.IsNull):
            kw = "IS NOT NULL" if e.negated else "IS NULL"
            return f"({self.expr(e.expr)} {kw})"
        if isinstance(e, N.IsDistinctFrom):
            kw = "IS NOT DISTINCT FROM" if e.negated else "IS DISTINCT FROM"
            return f"({self.expr(e.left)} {kw} {self.expr(e.right)})"
        if isinstance(e, N.InList):
            kw = "NOT IN" if e.negated else "IN"
            vals = ", ".join(self.expr(v) for v in e.values)
            return f"({self.expr(e.expr)} {kw} ({vals}))"
        if isinstance(e, N.InSubquery):
            kw = "NOT IN" if e.negated else "IN"
            sub = self._subquery(e.query)
            return f"({self.expr(e.expr)} {kw} ({sub}))"
        if isinstance(e, N.Exists):
            sub = self._subquery(e.query)
            kw = "NOT EXISTS" if e.negated else "EXISTS"
            return f"({kw} ({sub}))"
        if isinstance(e, N.Like):
            op = "RLIKE" if e.is_rlike else "LIKE"
            if e.is_rlike and self.dialect == DUCKDB:
                fn = "regexp_matches"
                inner = f"{fn}({self.expr(e.expr)}, {self.expr(e.pattern)})"
                return f"(NOT {inner})" if e.negated else inner
            kw = f"NOT {op}" if e.negated else op
            esc = f" ESCAPE {self.expr(e.escape)}" if e.escape else ""
            return f"({self.expr(e.expr)} {kw} {self.expr(e.pattern)}{esc})"
        if isinstance(e, N.IfExpr):
            other = self.expr(e.otherwise) if e.otherwise is not None else "NULL"
            return f"(CASE WHEN {self.expr(e.cond)} THEN {self.expr(e.then)} ELSE {other} END)"
        if isinstance(e, N.CaseExpr):
            parts = ["CASE"]
            if e.target is not None:
                parts.append(self.expr(e.target))
            for cond, val in e.whens:
                parts.append(f"WHEN {self.expr(cond)} THEN {self.expr(val)}")
            if e.otherwise is not None:
                parts.append(f"ELSE {self.expr(e.otherwise)}")
            parts.append("END")
            return "(" + " ".join(parts) + ")"
        if isinstance(e, N.Cast):
            fn = "TRY_CAST" if e.try_cast else "CAST"
            low_t = e.to_type.strip().lower()
            if self.dialect != SPARK \
                    and low_t.startswith(("decimal", "numeric")) \
                    and _maybe_fractional_numeric(e.expr, self._type_of):
                # decimal scale reduction rounds HALF_UP (away from zero)
                # in Spark but TRUNCATES in DuckDB (99.999::decimal(10,1)
                # = 100.0 vs 99.9) — pre-round at the target scale
                # (property-differential find)
                m = re.search(r"\(\s*\d+\s*,\s*(\d+)\s*\)", low_t)
                scale = int(m.group(1)) if m else 0
                return (f"{fn}(round({self.expr(e.expr)}, {scale}) "
                        f"AS {type_sql(e.to_type, self.dialect)})")
            if self.dialect != SPARK and low_t in _INT_CAST_TARGETS \
                    and _maybe_fractional_numeric(e.expr, self._type_of):
                # double->int CAST semantics differ: Spark truncates
                # toward zero, DuckDB rounds half away from zero
                # (CAST(-3.5 AS BIGINT) = -3 vs -4).  The engine defines
                # ::long as Spark's truncation, so the oracle dialect
                # trunc()s first — only for provably-numeric sources
                # (trunc on a VARCHAR would error), where it is exactly
                # Spark's semantics and a no-op on integral values.
                # Found by the property differential: ((x)/2)::long.
                return (f"{fn}(trunc({self.expr(e.expr)}) "
                        f"AS {type_sql(e.to_type, self.dialect)})")
            if self.dialect == SPARK \
                    and isinstance(e.expr, N.Literal) \
                    and e.expr.kind == "string" \
                    and (low_t.startswith(("map[", "struct(", "array["))):
                # Spark cannot CAST a string to a complex type; a JSON
                # string literal (Trino `CAST(JSON '...' AS MAP(...))`)
                # parses with from_json instead
                return (f"from_json({self.expr(e.expr)}, "
                        f"{self.str_lit(type_sql(e.to_type, self.dialect))})")
            return f"{fn}({self.expr(e.expr)} AS {type_sql(e.to_type, self.dialect)})"
        if isinstance(e, N.ArrayCtor):
            items = ", ".join(self.expr(i) for i in e.items)
            if self.dialect == SPARK:
                return f"array({items})"
            return f"[{items}]"
        if isinstance(e, N.MapCtor):
            if self.dialect == SPARK:
                kv = ", ".join(f"{self.expr(k)}, {self.expr(v)}" for k, v in e.entries)
                return f"map({kv})"
            keys = ", ".join(self.expr(k) for k, _ in e.entries)
            vals = ", ".join(self.expr(v) for _, v in e.entries)
            return f"map([{keys}], [{vals}])"
        if isinstance(e, N.StructCtor):
            if self.dialect == SPARK:
                kv = ", ".join(self.str_lit(k) + ", " + self.expr(v) for k, v in e.entries)
                return f"named_struct({kv})"
            kv = ", ".join(f"{self.q(k)}: {self.expr(v)}" for k, v in e.entries)
            return f"{{{kv}}}"
        if isinstance(e, N.RowCtor):
            items = ", ".join(self.expr(i) for i in e.items)
            return f"({items})"
        if isinstance(e, N.Subscript):
            # string subscripts extract struct fields / map keys by name —
            # bracket syntax resolves both on Spark and DuckDB
            if isinstance(e.index, N.Literal) and e.index.kind == "string":
                return f"{self.expr(e.target)}[{self.str_lit(str(e.index.value))}]"
            # wvlet arrays are 1-origin; [0] / out-of-range yield NULL
            # (DuckDB list semantics — Spark's element_at THROWS on index
            # 0 and try_element_at still throws on 0, so guard it)
            if self.dialect == SPARK:
                t, i = self.expr(e.target), self.expr(e.index)
                if isinstance(e.index, N.Literal) and e.index.value != 0:
                    return f"try_element_at({t}, {i})"
                return (f"(CASE WHEN ({i}) = 0 THEN NULL "
                        f"ELSE try_element_at({t}, {i}) END)")
            return f"{self.expr(e.target)}[{self.expr(e.index)}]"
        if isinstance(e, N.Lambda):
            params = ", ".join(e.params)
            head = params if len(e.params) == 1 else f"({params})"
            return f"{head} -> {self.expr(e.body)}"
        if isinstance(e, N.ScalarSubquery):
            return f"({self._subquery(e.query)})"
        if isinstance(e, N.InterpString):
            parts = []
            for p in e.parts:
                if isinstance(p, str):
                    parts.append(self.str_lit(p))
                else:
                    cast_t = "STRING" if self.dialect == SPARK else "VARCHAR"
                    parts.append(f"CAST({self.expr(p)} AS {cast_t})")
            if not parts:
                return self.str_lit("")
            if len(parts) == 1:
                return parts[0]
            return f"concat({', '.join(parts)})"
        if isinstance(e, N.IntervalLiteral):
            v = e.value.strip("'")
            return f"INTERVAL '{v}' {e.unit.upper()}"
        if isinstance(e, N.RawSQLExpr):
            return f"({e.sql})"
        if isinstance(e, N.AtTimeZone):
            inner, tz = self.expr(e.expr), self.expr(e.tz)
            if self.dialect == DUCKDB:
                # interpret as UTC instant, then take the wall clock in tz —
                # equivalent to Spark's from_utc_timestamp
                return f"((({inner}) AT TIME ZONE 'UTC') AT TIME ZONE ({tz}))"
            return f"from_utc_timestamp({inner}, {tz})"
        if isinstance(e, N.Param):
            label = {"anon": f"?(#{e.index})", "index": f"${e.index}",
                     "name": f"${e.name}"}[e.kind]
            raise CompileError(
                f"unbound prepared parameter {label}: pass params=[...] or "
                f"params={{name: value}} to run()/compile_to_sql()")
        if isinstance(e, N.NamedExpr):
            return self.expr(e.expr)
        raise CompileError(f"expression generation not implemented for {type(e).__name__}")

    def _literal(self, e: N.Literal) -> str:
        if e.kind == "null":
            return "NULL"
        if e.kind == "bool":
            return "TRUE" if e.value else "FALSE"
        if e.kind == "string":
            return self.str_lit(str(e.value))
        if e.kind == "duration":
            return self.str_lit(str(e.value))
        if e.kind == "float" and self.dialect == SPARK:
            # Spark parses bare 0.3 as DECIMAL and keeps decimal division
            # decimal; wvlet floats are doubles (DuckDB promotes `/` to
            # DOUBLE — spec/basic/double_func.wv expects a double result)
            return f"{e.value}D"
        return str(e.value)

    def _arith(self, e: N.ArithmeticOp) -> str:
        l, r = self.expr(e.left), self.expr(e.right)
        if e.op == "//":
            if self.dialect == SPARK:
                return f"({l} DIV {r})"
            return f"({l} // {r})"
        if e.op == "+" and (_is_stringy(e.left) or _is_stringy(e.right)):
            # flatten the chain and nest RIGHT-associatively — matches the
            # reference's rendering (spec/basic/string-concat.wv:
            # concat('hello', concat(' wvlet', ' and airframe!')))
            chain: list[N.Expr] = []

            def flat(x: N.Expr) -> None:
                if isinstance(x, N.ArithmeticOp) and x.op == "+" \
                        and (_is_stringy(x.left) or _is_stringy(x.right)):
                    flat(x.left)
                    flat(x.right)
                else:
                    chain.append(x)

            flat(e)
            out = self.expr(chain[-1])
            for part in reversed(chain[:-1]):
                out = f"concat({self.expr(part)}, {out})"
            return out
        if self.dialect != SPARK and e.op in ("+", "-") \
                and isinstance(e.right, N.IntervalLiteral) \
                and e.right.unit.lower().rstrip("s") in (
                    "day", "week", "month", "quarter", "year") \
                and _provably_date(e.left):
            # date +/- day-grain interval: Spark yields DATE, DuckDB
            # promotes to TIMESTAMP — cast back so the oracle matches the
            # engine's (Spark's) type (property-differential find)
            return f"CAST(({l} {e.op} {r}) AS DATE)"
        return f"({l} {e.op} {r})"

    _ORDER_SENSITIVE_AGGS = {"array_agg", "collect_list", "to_array",
                             "list", "string_agg", "group_concat",
                             "listagg"}

    def _ordered_agg(self, e: "N.FunctionApply", name: str) -> str:
        """`agg(x order by k [asc|desc] [nulls first|last], ...)`.
        DuckDB renders the modifier natively.  Spark has no ORDER BY
        inside aggregates, so the lowering collects
        `struct(keys..., value)` (the struct wrapper also preserves NULL
        values, which bare collect_list drops but array_agg keeps) and
        sorts the finished array with a comparator lambda — whole-stage-
        codegen expressions, no extra shuffle: the sort happens on each
        finished group's array, not on rows.  Nulls sort last by default,
        matching the reference's DuckDB backend."""
        base = e.name.lower()
        dist = "DISTINCT " if e.is_distinct else ""
        args_sql = ", ".join(self.expr(a) for a in e.args)
        if self.dialect == DUCKDB:
            keys = ", ".join(
                self.expr(k) + (" DESC" if d else "")
                + {"first": " NULLS FIRST", "last": " NULLS LAST"}.get(
                    no or "", "")
                for k, d, no in e.agg_order)
            return f"{name}({dist}{args_sql} ORDER BY {keys})"
        if base not in self._ORDER_SENSITIVE_AGGS:
            # ORDER BY is semantically inert for commutative aggregates
            return f"{name}({dist}{args_sql})"
        val_sql = self.expr(e.args[0])
        is_string_agg = base in ("string_agg", "group_concat", "listagg")
        sep_sql = self.expr(e.args[1]) if is_string_agg and len(e.args) > 1 \
            else "','"
        if e.is_distinct and not (
                len(e.agg_order) == 1
                and self.expr(e.agg_order[0][0]) == val_sql):
            raise CompileError(
                "DISTINCT aggregate with ORDER BY on a different key is "
                "ambiguous (which key survives dedup?)")
        fields = ", ".join(
            f"'__k{i}', {self.expr(k)}"
            for i, (k, _, _) in enumerate(e.agg_order))
        struct = f"named_struct({fields}, '__v', {val_sql})"
        comps = []
        for i, (_, d, no) in enumerate(e.agg_order):
            lt, gt = ("1", "-1") if d else ("-1", "1")
            # engine default: nulls last regardless of direction
            na, nb = ("-1", "1") if no == "first" else ("1", "-1")
            comps.append(
                f"CASE WHEN a.__k{i} IS NULL AND b.__k{i} IS NULL "
                f"THEN 0 WHEN a.__k{i} IS NULL THEN {na} "
                f"WHEN b.__k{i} IS NULL THEN {nb} "
                f"WHEN a.__k{i} < b.__k{i} THEN {lt} "
                f"WHEN a.__k{i} > b.__k{i} THEN {gt} ELSE 0 END")
        if len(comps) == 1:
            cmp_sql = comps[0]
        else:
            chain = " ".join(f"WHEN {c} != 0 THEN {c}" for c in comps[:-1])
            cmp_sql = f"CASE {chain} ELSE {comps[-1]} END"
        coll = f"collect_list({struct})"
        if e.is_distinct:
            coll = f"array_distinct({coll})"
        arr = (f"transform(array_sort({coll}, "
               f"(a, b) -> {cmp_sql}), s -> s.__v)")
        if is_string_agg:
            # array_join skips null elements, like string_agg
            return f"array_join({arr}, {sep_sql})"
        return arr

    def _json_object(self, e: "N.FunctionApply") -> str:
        """json_object(k1, v1, ...).  SQL-standard default is NULL ON
        NULL; `__wv_json_object_absent` marks ABSENT ON NULL (sql_import
        KEY/VALUE rewrite).  Spark builds to_json(named_struct(...)) —
        to_json drops null fields by default (= ABSENT), so NULL ON NULL
        pins ignoreNullFields=false.  DuckDB's json_object is natively
        NULL ON NULL; the ABSENT variant strips nulls via a json filter."""
        absent = e.name.lower() == "__wv_json_object_absent"
        pairs = list(zip(e.args[0::2], e.args[1::2]))
        if self.dialect == SPARK:
            for k, _v in pairs:
                if not (isinstance(k, N.Literal) and k.kind == "string"):
                    raise CompileError(
                        "json_object on Spark needs literal string keys "
                        "(named_struct lowering)")
            kv = ", ".join(f"{self.str_lit(k.value)}, {self.expr(v)}"
                           for k, v in pairs)
            ns = f"named_struct({kv})"
            if absent:
                return f"to_json({ns})"
            return f"to_json({ns}, map('ignoreNullFields', 'false'))"
        args = ", ".join(f"{self.expr(k)}, {self.expr(v)}"
                         for k, v in pairs)
        core = f"json_object({args})"
        if absent:
            # json_merge_patch deletes keys whose patch value is null —
            # exactly ABSENT ON NULL
            core = f"json_merge_patch('{{}}'::JSON, {core})"
        return core

    def _map_fn(self, name: str) -> str:
        m = FUNC_MAP.get(name.lower())
        if m:
            return m[self.dialect]
        return name

    def _shifted_ix_lambda(self, e) -> str:
        """Emit a 2-param index lambda for DuckDB: wvlet's element-index
        (second param) is 0-based, matching Spark's higher-order
        functions; DuckDB's lambda index is 1-based — shift index
        references inside the body (wide-fuzz find, round 5).  Applied
        ONLY for the index-HOFs (transform/filter), never for reduce
        lambdas whose second param is an element."""
        x, i = e.params
        prev = getattr(self, "_lambda_ix_subst", None)
        self._lambda_ix_subst = dict(prev or {})
        self._lambda_ix_subst[i] = f"({self.q(i)} - 1)"
        try:
            body = self.expr(e.body)
        finally:
            self._lambda_ix_subst = prev
        return f"({x}, {i}) -> {body}"

    def _is_array_expr(self, e) -> bool:
        """Syntactic best-effort: does this expression produce an ARRAY?
        Needed where DuckDB is polymorphic but Spark splits the surface
        (len/length work on both strings and lists in DuckDB; Spark's
        length is string-only and size is collection-only)."""
        if isinstance(e, N.ArrayCtor):
            return True
        if isinstance(e, N.Cast):
            t = e.to_type.strip().lower()
            return t.startswith(("array", "list")) or t.endswith("[]")
        if isinstance(e, N.FunctionApply):
            n = e.name.lower()
            if n in _ARRAY_RETURNING_FNS:
                return True
            if n in ("reverse", "slice", "array_slice", "shuffle"):
                return self._is_array_expr(e.args[0]) if e.args else False
            return False
        if isinstance(e, N.MethodCall):
            return e.method.lower() in ("array_agg", "collect_list")
        return (self._type_of(e) or "").startswith("array")

    def _function(self, e: N.FunctionApply) -> str:
        name = e.name if e.raw else self._map_fn(e.name)
        if e.name.lower() == "extract" and len(e.args) == 2 and isinstance(e.args[0], N.Ident):
            if e.args[0].name.lower() == "epoch" and self.dialect == SPARK:
                core = (f"(unix_micros(CAST({self.expr(e.args[1])} AS "
                        f"TIMESTAMP)) / 1000000.0)")
            else:
                core = f"extract({e.args[0].name.upper()} FROM {self.expr(e.args[1])})"
        elif e.name.lower() in ("len", "length") and len(e.args) == 1 \
                and self.dialect == SPARK \
                and self._is_array_expr(e.args[0]):
            # DuckDB's len/length are polymorphic over strings and lists;
            # Spark's length is string-only — lists go through size()
            # (import-path fuzz find: len(split(...)))
            core = f"size({self.expr(e.args[0])})"
        elif e.name.lower() in ("array_agg", "to_array", "collect_list") \
                and len(e.args) == 1 and self.dialect == DUCKDB \
                and e.window is None and not e.is_distinct \
                and not getattr(e, "agg_order", None) \
                and e.filter is None:
            # global aggregation over ZERO rows: Spark's collect_list
            # gives [], DuckDB's array_agg gives NULL — coalesce the
            # DuckDB side so both dialects agree (a no-op inside grouped
            # aggregation, where every group has rows)
            core = f"coalesce(array_agg({self.expr(e.args[0])}), [])"
        elif e.name.lower() == "sequence" and len(e.args) in (2, 3) \
                and e.window is None:
            # inclusive series.  DuckDB has no sequence() — its
            # equivalent is generate_series (inclusive both ends, [] on
            # crossed bounds, NULL on NULL input).  Spark's sequence
            # diverges on crossed INTEGER bounds: 2-arg DESCENDS
            # (sequence(2, 1) = [2, 1]) and 3-arg with a wrong-sign step
            # THROWS — guard both to empty (slice of a 1-element
            # sequence; least() keeps the branch typed when one bound is
            # a bare NULL literal).  A bare-NULL argument renders as a
            # typed constant NULL: sequence(NULL, NULL) does not even
            # analyze — the null's ELEMENT type is borrowed from a
            # non-null bound when one exists (case-null against a
            # 1-element sequence of that bound; round-6 ADVICE: the
            # earlier hardcoded array<int> broke date/bigint series
            # combined with typed arrays).  Non-literal steps get a
            # type-agnostic runtime sign guard: the step's zero is
            # (s - s), which exists for integers AND intervals, so
            # date/timestamp series are guarded too (wrong-sign
            # non-literal step used to THROW where DuckDB returns []).
            args = [self.expr(x) for x in e.args]
            if self.dialect != SPARK:
                core = f"generate_series({', '.join(args)})"
            else:
                a, b2 = args[0], args[1]

                def _null_lit(x):
                    return isinstance(x, N.Literal) and x.kind == "null"

                empty = (f"slice(sequence(least({a}, {b2}), "
                         f"least({a}, {b2})), 1, 0)")
                if any(_null_lit(x) for x in e.args):
                    bound = next(
                        (v for x, v in zip(e.args[:2], args[:2])
                         if not _null_lit(x)), None)
                    if bound is None:
                        core = "cast(null as array<int>)"
                    else:
                        core = (f"(case when true then null else "
                                f"sequence({bound}, {bound}) end)")
                elif len(args) == 2:
                    cond = (f"(({a}) is null) or (({b2}) is null) "
                            f"or (({a}) <= ({b2}))")
                    core = (f"(case when {cond} then sequence({a}, {b2})"
                            f" else {empty} end)")
                elif _int_literal(e.args[2]) is not None:
                    s = args[2]
                    cond = (f"(({a}) is null) or (({b2}) is null) or "
                            f"(((({b2}) - ({a})) * ({s})) >= 0)")
                    core = (f"(case when {cond} then "
                            f"sequence({a}, {b2}, {s})"
                            f" else {empty} end)")
                else:
                    # non-literal / interval step: sign unknown at
                    # compile time.  (s - s) is the zero of s's own type
                    # (0 for integers, a zero interval for intervals),
                    # so (b > a) = (s > zero) detects a wrong-sign step
                    # without knowing the type; equal bounds accept any
                    # sign (sequence(5,5,-1) = [5] on both engines), and
                    # a NULL anywhere flows to sequence() which returns
                    # NULL like generate_series.
                    s = args[2]
                    zero = f"(({s}) - ({s}))"
                    cond = (f"(({a}) is null) or (({b2}) is null) or "
                            f"(({s}) is null) or (({a}) = ({b2})) or "
                            f"((({b2}) > ({a})) = (({s}) > {zero}))")
                    core = (f"(case when {cond} then "
                            f"sequence({a}, {b2}, {s})"
                            f" else {empty} end)")
        elif e.name.lower() == "scan_position" and not e.args \
                and e.window is None:
            # scan-order row position (the POSITIONAL JOIN import
            # staging): Spark's monotonically_increasing_id is monotonic
            # in (partition, row-in-partition) scan order — it cannot
            # appear inside a window ORDER BY (nondeterministic), which
            # is why the importer projects it first and row_numbers over
            # the projected column.  DuckDB preserves row order, so a
            # bare row_number() is the same position there.
            core = ("monotonically_increasing_id()"
                    if self.dialect == SPARK else "row_number() over ()")
        elif e.name.lower() in ("shiftleft", "shiftright") \
                and len(e.args) == 2 and self.dialect == DUCKDB:
            # Spark names the shifts; DuckDB only has the operators
            op = "<<" if e.name.lower() == "shiftleft" else ">>"
            core = f"({self.expr(e.args[0])} {op} {self.expr(e.args[1])})"
        elif e.name.lower() in ("bitand", "bitor", "bitxor") \
                and len(e.args) == 2:
            # infix on both targets — EXCEPT xor, where DuckDB's ^ is
            # exponentiation; its bitwise xor is the xor() function
            a, b2 = self.expr(e.args[0]), self.expr(e.args[1])
            if e.name.lower() == "bitxor":
                core = f"xor({a}, {b2})" if self.dialect == DUCKDB \
                    else f"({a} ^ {b2})"
            else:
                op = "&" if e.name.lower() == "bitand" else "|"
                core = f"({a} {op} {b2})"
        elif e.name.lower() == "sha2" and len(e.args) == 2 \
                and self.dialect == DUCKDB \
                and isinstance(e.args[1], N.Literal) \
                and str(e.args[1].value) == "256":
            core = f"sha256({self.expr(e.args[0])})"
        elif e.name.lower() in ("trim", "ltrim", "rtrim") and len(e.args) == 2 \
                and self.dialect == SPARK:
            # wvlet/DuckDB/Trino arg order is (string, trim_chars); Spark's
            # 2-arg trim/ltrim/rtrim is (trim_chars, string) — swap
            # (trim itself: round-5 probe find via trim(BOTH x FROM y))
            core = (f"{e.name.lower()}({self.expr(e.args[1])}, "
                    f"{self.expr(e.args[0])})")
        elif e.name.lower() == "position" and len(e.args) == 1 \
                and isinstance(e.args[0], N.FunctionApply) \
                and e.args[0].name.lower() == "contains" \
                and len(e.args[0].args) == 2:
            # `position(sub in str)`: the parser sugars `sub in str` to
            # contains(str, sub) — recover the positional form
            s = self.expr(e.args[0].args[0])
            sub = self.expr(e.args[0].args[1])
            core = f"position({sub}, {s})" if self.dialect == SPARK \
                else f"position({sub} IN {s})"
        elif e.name.lower() in ("date_format", "strftime") \
                and len(e.args) == 2:
            # Same operation, different pattern languages: date_format
            # takes Java DateTimeFormatter patterns, strftime takes C
            # patterns.  Convert the literal pattern for the target
            # dialect; non-literal patterns cannot be converted at
            # compile time — reject rather than render wrong dates.
            val, fa = e.args[0], e.args[1]
            java_in = e.name.lower() == "date_format"
            if not (isinstance(fa, N.Literal) and fa.kind == "string"):
                if (java_in) == (self.dialect == SPARK):
                    core = (f"{e.name.lower()}({self.expr(val)}, "
                            f"{self.expr(fa)})")
                else:
                    raise CompileError(
                        f"{e.name}: non-literal format strings cannot be "
                        f"converted between dialects")
            else:
                fmt = fa.value
                if self.dialect == SPARK:
                    jfmt = fmt if java_in else _c_fmt_to_java(fmt)
                    core = (f"date_format({self.expr(val)}, "
                            f"'{jfmt.replace(chr(39), chr(39) * 2)}')")
                else:
                    cfmt = _java_fmt_to_c(fmt) if java_in else fmt
                    core = (f"strftime({self.expr(val)}, "
                            f"'{cfmt.replace(chr(39), chr(39) * 2)}')")
        elif e.name.lower() in ("dayname", "monthname") \
                and len(e.args) == 1 and self.dialect == SPARK:
            # the reference's dayname/monthname return FULL names
            # (DuckDB); Spark's same-named builtins return 3-letter
            # abbreviations — silent divergence (round-8 dialect audit)
            fmt = "EEEE" if e.name.lower() == "dayname" else "MMMM"
            core = f"date_format({self.expr(e.args[0])}, '{fmt}')"
        elif e.name.lower() == "log" and len(e.args) == 1 \
                and self.dialect == SPARK:
            # 1-arg log: the reference's semantics are DuckDB's, where
            # log(x) = log BASE 10; Spark's 1-arg log is ln — passing it
            # through silently diverged between execution and oracle
            # (round-8 dialect audit).  2-arg log(base, x) agrees on
            # both engines and passes through.
            core = f"log10({self.expr(e.args[0])})"
        elif e.name.lower() == "regexp_replace" and len(e.args) == 3 \
                and self.dialect != SPARK:
            # Spark's regexp_replace is replace-ALL; DuckDB's default is
            # first-match-only and needs the 'g' flag (wide-fuzz find).
            # The canonical replacement grammar is Java's ($N backrefs,
            # \$ literal) — translate literal replacements to RE2's
            # (\N backrefs, bare $ literal) for the DuckDB target
            # (round-8 fuzz find); non-literal replacements pass through
            # (runtime backrefs are not expressible cross-engine).
            rv = e.args[2]
            if isinstance(rv, N.Literal) and isinstance(rv.value, str):
                rep = self.str_lit(java_repl_to_re2(rv.value))
                core = (f"regexp_replace({self.expr(e.args[0])}, "
                        f"{self.expr(e.args[1])}, {rep}, 'g')")
            else:
                a = ", ".join(self.expr(x) for x in e.args)
                core = f"regexp_replace({a}, 'g')"
        elif e.name.lower() == "regexp_replace_first" and len(e.args) == 3:
            # FIRST-match-only replace (DuckDB's bare 3-arg semantics —
            # the SQL importer emits this; round-8 fuzz find: importing
            # it as the engine's replace-ALL regexp_replace silently
            # changed results).  DuckDB target: the native form.  Spark
            # target: anchor the pattern so replace-all can only ever
            # fire once (round-9 judge find: the earlier
            # (?s)(?:PAT)(.*) wrapper zero-width-matched AGAIN at
            # end-of-string when PAT itself can match empty —
            # regexp_replace_first('bbb','a*','X') returned 'XbbbX'):
            #   \A((?s:.*?))((?:PAT))((?s:.*))  ->  $1 REP' $<n+3>
            # The \A anchor makes a second match impossible; the DOTALL
            # flag is scoped to the wrapper groups only so PAT's own `.`
            # keeps RE2/DuckDB newline semantics (round-9 advisor find);
            # group 2 captures the PAT match itself so RE2's \0 whole-
            # match backref translates.  (Spark silently IGNORES
            # ${name} references — measured — so groups must be
            # numbered, which needs the pattern's capture-group count.)
            if self.dialect != SPARK:
                a = ", ".join(self.expr(x) for x in e.args)
                core = f"regexp_replace({a})"
            else:
                xv, pv, rv = e.args
                if not (isinstance(pv, N.Literal)
                        and isinstance(rv, N.Literal)):
                    raise WvletSyntaxError(
                        "regexp_replace_first needs a literal pattern "
                        "and replacement on the Spark target", 0, 0)
                pat, rep = str(pv.value), str(rv.value)
                try:
                    ngroups = re.compile(pat).groups
                except re.error:
                    raise WvletSyntaxError(
                        "regexp_replace_first: cannot count the "
                        "pattern's capture groups (non-portable regex "
                        "syntax)", 0, 0)
                jpat = f"\\A((?s:.*?))((?:{pat}))((?s:.*))"
                jrep = re2_repl_to_java_first(rep, ngroups)
                core = (f"regexp_replace({self.expr(xv)}, "
                        f"{self.str_lit(jpat)}, {self.str_lit(jrep)})")
        elif e.name.lower() in ("array_slice", "list_slice") \
                and len(e.args) == 3:
            # wvlet array_slice(arr, lo, hi): DuckDB [lo:hi] semantics —
            # 1-based INCLUSIVE bounds, negative indexes count from the
            # end (clamped to the list), NULL bound -> NULL.  The hot
            # common case — both bounds NON-NEGATIVE literals — keeps
            # the native slice() fast path (start clamps to 1; a start
            # past the end yields [] on both engines).  Everything else
            # (negative or non-literal bounds) routes through the robust
            # position-filter form: the per-sign slice() arithmetic
            # mis-handled out-of-range negatives (slice(a, -100, ...)
            # is [] on Spark but clamps on DuckDB) and NULL bounds
            # (greatest(NULL, 1) IGNORES the null) — both round-6
            # sql_slicestep fuzz finds.
            a = self.expr(e.args[0])
            lo_e, hi_e = e.args[1], e.args[2]

            def _ilit(x):
                if isinstance(x, N.Literal) and x.kind == "int":
                    return int(x.value)
                if isinstance(x, N.UnaryOp) and x.op == "-" \
                        and isinstance(x.expr, N.Literal) \
                        and x.expr.kind == "int":
                    return -int(x.expr.value)
                return None

            if self.dialect != SPARK:
                core = (f"list_slice({a}, {self.expr(lo_e)}, "
                        f"{self.expr(hi_e)})")
            else:
                L, H = _ilit(lo_e), _ilit(hi_e)
                if L is not None and H is not None and L >= 0 and H >= 0:
                    start = max(L, 1)
                    core = f"slice({a}, {start}, {max(H - start + 1, 0)})"
                else:
                    core = _spark_slice_robust(
                        a, self.expr(lo_e), self.expr(hi_e), "1")
        elif e.name.lower() in ("array_slice", "list_slice") \
                and len(e.args) == 4:
            # step slice `l[lo:hi:step]` — DuckDB semantics: 1-based
            # INCLUSIVE bounds, negative indexes count from the end, the
            # begin bound clamps to 1 BEFORE stepping (so the phase
            # starts at the clamped bound: [-10:6:3] over 6 elements is
            # [1, 4]), NULL list or NULL bound -> NULL.  The importer
            # admits only positive literal steps; negative (reversing)
            # steps stay a typed reject there.  Spark lowering filters
            # the 1..size position sequence (always ascending — a direct
            # sequence(lo, hi) throws when lo > hi) and maps positions
            # through element_at.
            a = self.expr(e.args[0])
            lo = self.expr(e.args[1])
            hi = self.expr(e.args[2])
            step = self.expr(e.args[3])
            if self.dialect != SPARK:
                core = f"list_slice({a}, {lo}, {hi}, {step})"
            else:
                core = _spark_slice_robust(a, lo, hi, step)
        elif e.name.lower() in ("array_position", "list_position") \
                and self.dialect != SPARK and len(e.args) == 2:
            # Spark's array_position returns 0 when absent; DuckDB's
            # list_position returns NULL — align on Spark's 0
            core = (f"coalesce(list_position({self.expr(e.args[0])}, "
                    f"{self.expr(e.args[1])}), 0)")
        elif e.name.lower() == "char_length" and self.dialect != SPARK \
                and len(e.args) == 1:
            core = f"length({self.expr(e.args[0])})"
        elif e.name.lower() == "element_at" and self.dialect != SPARK \
                and len(e.args) == 2:
            # DuckDB's element_at is MAP-only and returns a LIST of
            # values; list access is plain subscript.  Discriminate by
            # the key shape: string key => map (unwrap the list), else
            # list index.  (Maps with non-string keys would need typed
            # analysis — not part of the exercised surface.)
            a, k = self.expr(e.args[0]), self.expr(e.args[1])
            if isinstance(e.args[1], N.Literal) \
                    and e.args[1].kind == "string":
                core = f"(element_at({a}, {k}))[1]"
            else:
                core = f"({a})[{k}]"
        elif e.name.lower() == "initcap" and self.dialect != SPARK \
                and len(e.args) == 1:
            # DuckDB has no initcap — emulate Spark's (upper first letter
            # of each space-delimited word, lower the rest)
            a = self.expr(e.args[0])
            # substr (not VARCHAR bracket-slices) so the emitted SQL
            # round-trips through the importer, which reads brackets as
            # array ops (lambda vars have no schema to consult)
            core = (f"array_to_string(list_transform(string_split({a}, ' '),"
                    f" __w -> upper(substr(__w, 1, 1)) ||"
                    f" lower(substr(__w, 2))), ' ')")
        elif e.name.lower() == "map" and self.dialect != SPARK \
                and e.args and len(e.args) % 2 == 0:
            # Spark's variadic map(k1, v1, k2, v2); DuckDB's map() takes
            # two lists
            ks = ", ".join(self.expr(a) for a in e.args[0::2])
            vs = ", ".join(self.expr(a) for a in e.args[1::2])
            core = f"map([{ks}], [{vs}])"
        elif e.name.lower() == "array_distinct" and self.dialect != SPARK \
                and len(e.args) == 1:
            # Spark's array_distinct keeps FIRST-occurrence order;
            # DuckDB's list_distinct gives no order guarantee — re-derive
            # the order with an index-aware filter
            a = self.expr(e.args[0])
            core = (f"list_filter({a}, (__x, __i) -> "
                    f"list_position({a}, __x) = __i)")
        elif e.name.lower() in ("gcd", "lcm") and self.dialect == SPARK \
                and len(e.args) == 2:
            # DuckDB-native integer gcd/lcm (reference surface:
            # wvlet-lang SqlParser function passthrough).  Spark has no
            # builtin — lower gcd to a bounded Euclid fold: the pair
            # rides a 2-element array accumulator, and 96 iterations
            # cover the 64-bit worst case (consecutive Fibonacci numbers
            # need ~91 steps).  Converged pairs pass through untouched,
            # so excess iterations are no-ops.  All-JVM expressions —
            # no UDF, stays inside codegen.
            a = f"cast(abs({self.expr(e.args[0])}) as bigint)"
            b = f"cast(abs({self.expr(e.args[1])}) as bigint)"
            gcd = (f"element_at(aggregate(sequence(1, 96), "
                   f"array({a}, {b}), (__acc, __i) -> "
                   f"if(element_at(__acc, 2) = 0, __acc, "
                   f"array(element_at(__acc, 2), "
                   f"element_at(__acc, 1) % element_at(__acc, 2)))), 1)")
            if e.name.lower() == "gcd":
                core = gcd
            else:
                # lcm = |a| / gcd * |b|; divide first to bound overflow.
                # Zero operands short-circuit (gcd would be 0 — division
                # by zero), matching DuckDB's lcm(0, x) = 0.
                core = (f"(case when {a} = 0 or {b} = 0 "
                        f"then cast(0 as bigint) "
                        f"else {a} div {gcd} * {b} end)")
        elif e.name.lower() == "list_zip" and self.dialect == SPARK \
                and e.args:
            # DuckDB's list_zip pads to the LONGEST input with NULLs and
            # names struct fields list_1..list_k; Spark's arrays_zip
            # names fields after its inputs — emit an index transform
            # with named_struct for field-name parity.  sequence runs
            # 1..n+1 (a bare sequence(1, 0) would DESCEND) and slice
            # trims back to n, so n = 0 yields a typed empty array.
            args = [self.expr(a) for a in e.args]
            sizes = [f"coalesce(size({a}), 0)" for a in args]
            n = sizes[0] if len(sizes) == 1 else \
                f"greatest({', '.join(sizes)})"
            fields = ", ".join(
                f"'list_{i + 1}', try_element_at({a}, __i)"
                for i, a in enumerate(args))
            core = (f"slice(transform(sequence(1, {n} + 1), "
                    f"__i -> named_struct({fields})), 1, {n})")
        elif e.name.lower() in ("list_sum", "list_avg", "list_count",
                                "list_product") and self.dialect == SPARK \
                and len(e.args) == 1:
            # DuckDB list aggregates (list_aggregate shorthands): skip
            # NULL elements, return NULL for empty/NULL input (measured:
            # list_sum([1,NULL,3])=4, list_sum([])=NULL).  Spark folds
            # over the NULL-filtered array; numeric results use a DOUBLE
            # accumulator (Spark's aggregate() needs one stable
            # accumulator type across int/double element inputs).
            a = self.expr(e.args[0])
            nn = f"filter({a}, __v -> __v is not null)"
            name = e.name.lower()
            if name == "list_count":
                core = (f"(case when {a} is null then null "
                        f"else cast(size({nn}) as bigint) end)")
            else:
                init, op = {"list_sum": ("0.0d", "+"),
                            "list_product": ("1.0d", "*"),
                            "list_avg": ("0.0d", "+")}[name]
                fold = (f"aggregate({nn}, cast({init} as double), "
                        f"(__a, __v) -> __a {op} __v)")
                if name == "list_avg":
                    fold = f"({fold} / size({nn}))"
                core = (f"(case when {a} is null or size({nn}) = 0 "
                        f"then null else {fold} end)")
        elif e.name.lower() == "entropy" and self.dialect == SPARK \
                and len(e.args) == 1:
            # DuckDB-native Shannon entropy (log2) of the value
            # distribution.  Spark has no builtin — compute
            # -sum(p*log2(p)) from the collected non-null values (Spark's
            # collect_list drops NULLs, matching DuckDB's NULL-skip).
            # Catalyst deduplicates the repeated identical collect_list
            # aggregates into one physical buffer.  `+ 0.0` normalizes
            # the all-equal group's -0.0; empty group coalesces to 0.0
            # (log2(0) is NULL), both matching DuckDB.  O(distinct * n)
            # per group and memory-bound by the group — a dialect-parity
            # surface, not a scale path; use dv/count pipelines for
            # large-cardinality entropy at scale.
            if e.window is not None:
                raise CompileError(
                    "entropy() OVER (...) is not supported on the Spark "
                    "target — the lowering needs multiple aggregate "
                    "buffers; compute windowed entropy via an explicit "
                    "per-value frequency pipeline")
            cl = f"collect_list({self.expr(e.args[0])})"
            cnt = "size(filter({cl}, __y -> __y = __v))".format(cl=cl)
            core = (f"coalesce(0.0 + -aggregate(array_distinct({cl}), "
                    f"cast(0.0 as double), (__acc, __v) -> __acc + "
                    f"({cnt} / size({cl})) * log2({cnt} / size({cl}))), "
                    f"0.0)")
        elif e.name.lower() == "aggregate" and self.dialect != SPARK \
                and len(e.args) == 3:
            # Spark's aggregate(arr, init, merge); DuckDB's list_reduce
            # has no init — prepend it (empty arr then folds to init)
            arr, init = self.expr(e.args[0]), self.expr(e.args[1])
            lam = self.expr(e.args[2])
            core = f"list_reduce(list_prepend({init}, {arr}), {lam})"
        elif e.name.lower() == "skewness" and self.dialect != SPARK \
                and len(e.args) == 1 and e.window is None:
            # Spark's skewness is the population g1; DuckDB's is the
            # bias-corrected sample G1 — g1 = G1 * (n-2)/sqrt(n(n-1))
            a = self.expr(e.args[0])
            core = (f"(skewness({a}) * (count({a}) - 2) "
                    f"/ sqrt(count({a}) * (count({a}) - 1.0)))")
        elif e.name.lower() == "dayofweek" and self.dialect != SPARK \
                and len(e.args) == 1:
            # Spark: 1=Sunday..7=Saturday; DuckDB: 0=Sunday..6
            core = f"(dayofweek({self.expr(e.args[0])}) + 1)"
        elif e.name.lower() == "weekday" and self.dialect != SPARK \
                and len(e.args) == 1:
            # Spark: 0=Monday..6; DuckDB isodow: 1=Monday..7
            core = f"(isodow({self.expr(e.args[0])}) - 1)"
        elif e.name.lower() in ("datediff", "date_diff") \
                and self.dialect != SPARK and len(e.args) == 2:
            # Spark's 2-arg datediff(end, start) = days end-start; DuckDB
            # only has datediff(part, start, end)
            core = (f"datediff('day', {self.expr(e.args[1])}, "
                    f"{self.expr(e.args[0])})")
        elif e.name.lower() == "date_trunc" and self.dialect != SPARK \
                and len(e.args) == 2 and isinstance(e.args[0], N.Literal) \
                and str(e.args[0].value).lower() in (
                    "year", "quarter", "month", "week", "day"):
            # Spark's date_trunc always returns TIMESTAMP; DuckDB returns
            # DATE for day-grain units — cast so the oracle matches the
            # engine's type (property-differential find)
            core = (f"CAST(date_trunc({self.expr(e.args[0])}, "
                    f"{self.expr(e.args[1])}) AS TIMESTAMP)")
        elif e.name.lower() == "unnest" and self.dialect == SPARK \
                and len(e.args) == 1 and isinstance(e.args[0], N.Literal) \
                and e.args[0].kind == "null":
            # explode(NULL) is a type error in Spark; DuckDB's unnest(NULL)
            # yields 0 rows (spec/basic/unnest.wv)
            core = "explode(CAST(NULL AS ARRAY<STRING>))"
        elif e.name.lower() == "regexp_extract" and len(e.args) == 2 \
                and self.dialect == SPARK:
            # 2-arg regexp_extract returns the whole match (group 0) in
            # DuckDB; Spark's idx defaults to group 1 — pin it to 0
            core = (f"regexp_extract({self.expr(e.args[0])}, "
                    f"{self.expr(e.args[1])}, 0)")
        elif e.name.lower() == "list_reduce" and len(e.args) == 2 \
                and self.dialect == SPARK:
            # DuckDB's list_reduce folds with arr[1] as the seed and no
            # initial value; Spark's reduce() requires one — seed with the
            # head and fold the tail (spec/basic/lambda.wv)
            a, lam = self.expr(e.args[0]), self.expr(e.args[1])
            core = (f"reduce(slice({a}, 2, greatest(size({a}) - 1, 0)), "
                    f"element_at({a}, 1), {lam})")
        elif e.name.lower() in ("json_object", "__wv_json_object_absent") \
                and e.args and len(e.args) % 2 == 0:
            core = self._json_object(e)
        elif e.name.lower() == "row" and self.dialect == SPARK and e.args:
            # SQL ROW constructor.  NOT struct(): inside a VALUES list
            # Spark re-reads struct(...) as a row constructor and
            # explodes its arity; named_struct with struct()'s default
            # field names (col1..colN) is stable in every position
            kv = ", ".join(f"'col{i + 1}', {self.expr(a)}"
                           for i, a in enumerate(e.args))
            core = f"named_struct({kv})"
        elif e.name.lower() == "map" and self.dialect == SPARK \
                and len(e.args) == 2 \
                and all(isinstance(a, N.ArrayCtor)
                        or (isinstance(a, N.FunctionApply)
                            and a.name.lower() in ("list_value", "array"))
                        for a in e.args):
            # two-array map constructor (DuckDB/legacy Trino form);
            # Spark's map() is variadic key/value pairs
            core = (f"map_from_arrays({self.expr(e.args[0])}, "
                    f"{self.expr(e.args[1])})")
        elif e.name.lower() in ("like_escape", "not_like_escape") \
                and len(e.args) == 3:
            # LIKE ... ESCAPE (sql_import keeps it as a call; DuckDB has
            # these as native functions, Spark only the operator form)
            a, p, esc = (self.expr(x) for x in e.args)
            if self.dialect == SPARK:
                neg = "NOT " if e.name.lower().startswith("not_") else ""
                core = f"({a} {neg}LIKE {p} ESCAPE {esc})"
            else:
                core = f"{e.name.lower()}({a}, {p}, {esc})"
        elif e.name.lower() == "count" and (not e.args or isinstance(e.args[0], N.Star)):
            core = "COUNT(*)"
        elif e.agg_order:
            core = self._ordered_agg(e, name)
        else:
            ix_hof = (self.dialect == DUCKDB
                      and e.name.lower() in _IX_LAMBDA_FNS)
            args = ", ".join(
                self._shifted_ix_lambda(a)
                if (ix_hof and isinstance(a, N.Lambda)
                    and len(a.params) == 2)
                else self.expr(a)
                for a in e.args)
            dist = "DISTINCT " if e.is_distinct else ""
            if e.ignore_nulls and self.dialect == DUCKDB:
                # DuckDB wants the modifier inside the parens
                core = f"{name}({dist}{args} IGNORE NULLS)"
            else:
                core = f"{name}({dist}{args})"
        if e.ignore_nulls and self.dialect != DUCKDB:
            core += " IGNORE NULLS"
        if e.filter is not None:
            core += f" FILTER (WHERE {self.expr(e.filter)})"
        if e.window is not None:
            core += f" OVER ({self.window(e.window, fn=e.name)})"
        return core

    def _method(self, e: N.MethodCall) -> str:
        m = e.method.lower()
        t = e.target
        is_group = isinstance(t, N.Underscore)

        core: str | None = None
        if m in SCALAR_METHOD_CASTS:
            core = f"CAST({self.expr(t)} AS {type_sql(SCALAR_METHOD_CASTS[m], self.dialect)})"
        elif m == "count":
            core = "COUNT(*)" if is_group else f"COUNT({self.expr(t)})"
        elif m == "count_distinct":
            arg = e.args[0] if e.args else t
            core = f"COUNT(DISTINCT {self.expr(arg)})"
        elif m == "count_if":
            arg = e.args[0] if e.args else t
            core = f"count_if({self.expr(arg)})"
        elif m in ("count_approx_distinct", "approx_distinct"):
            arg = e.args[0] if e.args else t
            core = f"approx_count_distinct({self.expr(arg)})"
        elif m == "approx_quantile":
            fn = "percentile_approx" if self.dialect == SPARK else "approx_quantile"
            core = f"{fn}({self.expr(t)}, {self.expr(e.args[0])})"
        elif m in ("max_by", "min_by", "string_agg", "corr"):
            # `_.max_by(a, b)` → max_by(a, b); `x.max_by(y)` → max_by(x, y)
            call_args = e.args if is_group else [t] + e.args
            rendered = ", ".join(self.expr(a) for a in call_args)
            core = f"{self._map_fn(m)}({rendered})"
        elif m in ("array_agg", "to_array"):
            arg = e.args[0] if (is_group and e.args) else t
            if self.dialect == DUCKDB:
                # match the engine's [] on zero-row global aggregation
                core = f"coalesce(array_agg({self.expr(arg)}), [])"
            else:
                core = f"array_agg({self.expr(arg)})"
        elif m in AGG_FUNCS:
            if is_group:
                args = ", ".join(self.expr(a) for a in e.args)
                core = f"{self._map_fn(m)}({args})" if e.args else f"{self._map_fn(m)}(*)"
            else:
                fn = self._map_fn(m)
                extra = "".join(", " + self.expr(a) for a in e.args)
                core = f"{fn}({self.expr(t)}{extra})"
            # Decimal aggregate result-type parity with the reference's
            # engine (DuckDB): sum(decimal(p,s)) is decimal(38,s) and
            # avg(decimal) is double there, while Spark derives
            # decimal(p+10,s) / decimal(p+4,s+4).  When the argument
            # resolves to a decimal column of known scale, cast the result
            # (reference spec/tpch/test/q1-test.wv golden types).
            if self.dialect == SPARK and m in ("sum", "avg"):
                arg = (e.args[0] if e.args else None) if is_group else t
                # of a plain column reference: composite expressions keep
                # Spark's own derived type (their precision already
                # saturates at 38 under Spark's multiply rules)
                scale = _decimal_scale(self._type_of(arg))
                if scale is not None:
                    if m == "sum":
                        core = f"CAST({core} AS DECIMAL(38,{scale}))"
                    else:
                        # DuckDB divides the EXACT decimal sum, then
                        # converts to double; Spark's avg(decimal) rounds
                        # at scale+4 and a float-summed avg differs in the
                        # last bits.  Spark's decimal division keeps >= 15
                        # fractional digits here, which round-trips to the
                        # same double.  nullif guards the all-null group.
                        # exact path: narrow the sum to DECIMAL(20,s) so
                        # Spark's division-scale adjustment leaves 18+s
                        # fractional digits in the quotient — enough to
                        # round-trip to the same double as the unbounded
                        # exact quotient (DuckDB's avg(decimal) is the
                        # correctly-rounded double of the exact quotient;
                        # verified empirically, incl. sub-1 averages).
                        # The narrowing cast would silently NULL past
                        # 10^(20-s) with ANSI off, so a CASE guards it:
                        # group sums beyond the headroom take double
                        # division instead, whose ~1-ulp error is
                        # negligible at that magnitude.  Catalyst dedups
                        # the repeated sum()/count() aggregates, so the
                        # CASE costs no extra aggregation.
                        a = self.expr(arg)
                        s_expr = f"sum({a})"
                        c_expr = f"nullif(count({a}), 0)"
                        if scale <= 18:
                            limit = 10 ** (20 - scale)
                            core = (
                                f"CASE WHEN abs({s_expr}) < {limit} "
                                f"THEN CAST(CAST({s_expr} AS DECIMAL(20,{scale}))"
                                f" / {c_expr} AS DOUBLE) "
                                f"ELSE CAST({s_expr} AS DOUBLE) / {c_expr} END")
                        else:
                            # scale too high for the narrowed exact path
                            core = f"CAST({s_expr} AS DOUBLE) / {c_expr}"
        elif m == "or_else":
            core = f"coalesce({self.expr(t)}, {self.expr(e.args[0])})"
        elif m in ("in", "not_in"):
            # `x.in(a, b, c)` / `x.not_in(...)`; a single subquery argument
            # (`ps_suppkey.not_in( from supplier ... select s_suppkey )`,
            # reference spec/tpch/q16.wv) lowers to [NOT] IN (SELECT ...)
            kw = "NOT IN" if m == "not_in" else "IN"
            if len(e.args) == 1 and isinstance(e.args[0], N.ScalarSubquery):
                sub = self._subquery(e.args[0].query)
                core = f"({self.expr(t)} {kw} ({sub}))"
            else:
                vals = ", ".join(self.expr(a) for a in e.args)
                core = f"({self.expr(t)} {kw} ({vals}))"
        elif m == "between":
            core = f"({self.expr(t)} BETWEEN {self.expr(e.args[0])} AND {self.expr(e.args[1])})"
        elif m == "like":
            core = f"({self.expr(t)} LIKE {self.expr(e.args[0])})"
        elif m == "regexp_like":
            if self.dialect == SPARK:
                core = f"({self.expr(t)} RLIKE {self.expr(e.args[0])})"
            else:
                core = f"regexp_matches({self.expr(t)}, {self.expr(e.args[0])})"
        elif m == "extract":
            part = self.expr(e.args[0]).strip(chr(39))
            if part.lower() == "epoch" and self.dialect == SPARK:
                # Spark's extract has no EPOCH field; DuckDB's returns
                # fractional seconds as DOUBLE (round-5 probe find)
                core = (f"(unix_micros(CAST({self.expr(t)} AS TIMESTAMP))"
                        f" / 1000000.0)")
            else:
                core = f"extract({part} FROM {self.expr(t)})"
        else:
            # generic method → function call with target as first argument
            fn = self._map_fn(m)
            extra = "".join(", " + self.expr(a) for a in e.args)
            if fn == "array_agg" and self.dialect == DUCKDB \
                    and not e.args and e.window is None:
                # match the engine's [] on zero-row global aggregation
                # (same rule as the FunctionApply path)
                core = f"coalesce(array_agg({self.expr(t)}), [])"
            else:
                core = f"{fn}({self.expr(t)}{extra})"
        if e.window is not None:
            core += f" OVER ({self.window(e.window)})"
        return core

    # ranking/offset window functions take no frame in Spark (error),
    # while DuckDB accepts-and-ignores one — drop it on the Spark side
    _NO_FRAME_FNS = {"row_number", "rank", "dense_rank", "percent_rank",
                     "ntile", "cume_dist", "lag", "lead"}

    def window(self, w: N.WindowSpec, fn: str | None = None) -> str:
        parts = []
        if w.partition_by:
            parts.append("PARTITION BY " + ", ".join(self.expr(p) for p in w.partition_by))
        if w.order_by:
            parts.append("ORDER BY " + ", ".join(self.sort_item(s) for s in w.order_by))
        if w.frame_type and self.dialect == SPARK and fn \
                and fn.lower() in self._NO_FRAME_FNS:
            return " ".join(parts)
        if w.frame_type:
            start = self._frame_bound(w.frame_start)
            end = self._frame_bound(w.frame_end)
            parts.append(f"{w.frame_type.upper()} BETWEEN {start} AND {end}")
        return " ".join(parts)

    def _frame_bound(self, b: N.FrameBound | None) -> str:
        if b is None:
            return "CURRENT ROW"
        return {
            "unbounded_preceding": "UNBOUNDED PRECEDING",
            "preceding": f"{b.n} PRECEDING",
            "current": "CURRENT ROW",
            "following": f"{b.n} FOLLOWING",
            "unbounded_following": "UNBOUNDED FOLLOWING",
        }[b.kind]

    def sort_item(self, s: N.SortItem) -> str:
        sql = self.expr(s.expr)
        if s.ascending is False:
            sql += " DESC"
        elif s.ascending is True:
            sql += " ASC"
        if s.nulls_first is True:
            sql += " NULLS FIRST"
        elif s.nulls_first is False:
            sql += " NULLS LAST"
        return sql

    def _contains_agg(self, e: N.Expr) -> bool:
        found = False

        def walk(x):
            nonlocal found
            if found or x is None:
                return
            if isinstance(x, N.FunctionApply):
                if x.name.lower() in AGG_FUNCS and x.window is None:
                    found = True
                    return
                for a in x.args:
                    walk(a)
            elif isinstance(x, N.MethodCall):
                if x.method.lower() in AGG_FUNCS and x.window is None:
                    found = True
                    return
                walk(x.target)
                for a in x.args:
                    walk(a)
            elif isinstance(x, (N.ArithmeticOp, N.Comparison)):
                walk(x.left)
                walk(x.right)
            elif isinstance(x, (N.And, N.Or)):
                walk(x.left)
                walk(x.right)
            elif isinstance(x, N.Not):
                walk(x.expr)
            elif isinstance(x, N.UnaryOp):
                walk(x.expr)
            elif isinstance(x, N.Cast):
                walk(x.expr)
            elif isinstance(x, N.IfExpr):
                walk(x.cond)
                walk(x.then)
                walk(x.otherwise)
            elif isinstance(x, N.CaseExpr):
                for c, v in x.whens:
                    walk(c)
                    walk(v)
                walk(x.otherwise)
            elif isinstance(x, N.Between):
                walk(x.expr)
                walk(x.lower)
                walk(x.upper)

        walk(e)
        return found


_RESERVED = {
    "select", "from", "where", "group", "order", "by", "limit", "join", "left",
    "right", "full", "inner", "cross", "on", "union", "all", "distinct", "as",
    "case", "when", "then", "else", "end", "and", "or", "not", "null", "true",
    "false", "between", "like", "in", "is", "cast", "having", "over",
    "partition", "values", "table", "create", "insert", "update", "delete",
    "default", "current_date", "current_time", "current_timestamp", "user",
}


def _int_literal(x):
    """Integer value of a (possibly negated) int literal, else None."""
    if isinstance(x, N.Literal) and x.kind == "int":
        return int(x.value)
    if isinstance(x, N.UnaryOp) and x.op == "-" \
            and isinstance(x.expr, N.Literal) and x.expr.kind == "int":
        return -int(x.expr.value)
    return None


def _spark_slice_robust(a: str, lo: str, hi: str, step: str) -> str:
    """Spark rendering of DuckDB list-slice semantics for arbitrary
    bounds: 1-based INCLUSIVE, negative indexes count from the end, the
    begin bound clamps to 1 BEFORE stepping (phase starts at the clamped
    bound), out-of-range bounds clamp, NULL list or NULL bound -> NULL.
    Formulated as a filter over the 1..size position sequence (always
    ascending) + element_at, because slice()'s start argument cannot
    express clamped negatives."""
    lo_c = f"greatest(if(({lo}) < 0, size({a}) + ({lo}) + 1, ({lo})), 1)"
    hi_n = f"if(({hi}) < 0, size({a}) + ({hi}) + 1, ({hi}))"
    return (f"(case when ({a}) is null or ({lo}) is null"
            f" or ({hi}) is null then null"
            f" when size({a}) = 0 then {a}"
            f" else transform(filter(sequence(1, size({a})),"
            f" __i -> __i >= {lo_c} and __i <= {hi_n}"
            f" and (__i - {lo_c}) % ({step}) = 0),"
            f" __i -> element_at({a}, __i)) end)")


def _collect_expr_idents(e, out: set) -> None:
    """Lowercased names of every column an expression references — bare
    Idents plus the tail of alias-qualified Refs (pivot `group by *`
    uses this to exclude referenced columns from the implicit keys)."""
    import dataclasses

    if isinstance(e, N.Ident):
        out.add(e.name.lower())
        return
    if isinstance(e, N.Ref):
        out.add(e.name.lower())
        if not isinstance(e.qualifier, N.Ident):
            _collect_expr_idents(e.qualifier, out)
        return
    if dataclasses.is_dataclass(e) and not isinstance(e, type):
        for f in dataclasses.fields(e):
            _collect_expr_idents(getattr(e, f.name), out)
        return
    if isinstance(e, (list, tuple)):
        for x in e:
            _collect_expr_idents(x, out)


def _join_types(lb: "SqlGenerator.Block", rb: "SqlGenerator.Block") -> dict:
    """Column types after joining two blocks: a name typed on one side
    keeps its type unless the other side may hold it with another."""
    out = {}
    for a, b in ((lb, rb), (rb, lb)):
        for c, t in a.types.items():
            if b.columns is not None and (c not in b.columns
                                          or b.types.get(c) == t):
                out[c] = t
    return out


def _block_dirty(b: "SqlGenerator.Block") -> bool:
    return (
        b.select is not None
        or bool(b.where)
        or b.group_keys is not None
        or bool(b.having)
        or bool(b.order)
        or b.limit is not None
        or b.offset is not None
        or b.distinct
    )


def _relation_alias(rel: N.Relation) -> str | None:
    if isinstance(rel, N.AliasedRelation):
        return rel.alias
    if isinstance(rel, N.Values):
        return rel.alias
    if isinstance(rel, N.TableFunctionCall):
        return rel.alias
    if isinstance(rel, N.TableRef):
        return rel.name.split(".")[-1]
    if isinstance(rel, N.ParenRelation):
        return _relation_alias(rel.child)
    if isinstance(rel, (N.Filter, N.Project)):
        return None
    return None


def _references_alias(e: N.Expr, alias: str) -> bool:
    found = False

    def walk(x):
        nonlocal found
        if found or x is None:
            return
        if isinstance(x, N.Ref):
            q = x.qualifier
            if isinstance(q, N.Ident) and q.name == alias:
                found = True
                return
            walk(q)
        elif isinstance(x, N.ArithmeticOp):
            walk(x.left)
            walk(x.right)
        elif isinstance(x, N.Cast):
            walk(x.expr)
        elif isinstance(x, N.FunctionApply):
            for a in x.args:
                walk(a)
        elif isinstance(x, N.MethodCall):
            walk(x.target)
            for a in x.args:
                walk(a)

    walk(e)
    return found


def _is_stringy(e: N.Expr) -> bool:
    if isinstance(e, N.Literal) and e.kind == "string":
        return True
    if isinstance(e, N.InterpString):
        return True
    if isinstance(e, N.ArithmeticOp) and e.op == "+":
        return _is_stringy(e.left) or _is_stringy(e.right)
    return False


# functions whose value differs per evaluation: staging or fusing one
# would freeze a single draw across the rows it used to be drawn for
_NONDET_FNS = {"rand", "random", "randn", "uuid", "shuffle",
               "monotonically_increasing_id", "ulid", "ulid_string",
               "scan_position", "current_timestamp", "now"}


def _varies_per_row(e: N.Node) -> bool:
    """A non-deterministic or windowed call: its value depends on the row
    set it is evaluated over, so it cannot move into a staged or fused
    projection."""
    if isinstance(e, N.FunctionApply) and e.name.lower() in _NONDET_FNS:
        return True
    return isinstance(e, (N.FunctionApply, N.MethodCall)) \
        and getattr(e, "window", None) is not None


def _literal_kind(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    return "string"
