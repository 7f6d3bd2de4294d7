"""Tree-walking interpreter for the Andl query subset.

Executes the reference's own `.andl` scripts (Test/SuiteRel*.andl,
Sample/sample2.andl) directly against the andl_spark engine: driver-side
control flow is evaluated in Python, but every relational operation is
compiled to a declarative Spark plan through andl_spark.Relation — the
scripts drive the SAME Catalyst plans the fluent API produces, not a
separate evaluator.

Reference: compiler Andl.Peg/PegCompiler.cs, evaluator
Andl.Runtime/Evaluator.cs + Builtin.cs (semantics re-derived from the
test suites, not ported — the reference is a C# tree-walking VM over
local tables; this targets lazy DataFrames).

Semantics fixed by the suites:
  * `.select{}` with folds = aggregated projection grouped by the bare
    attributes (SuiteRelFold.andl R1/R2).
  * Under `.order()`: fold-only select = ordered aggregation (one tuple);
    folds alongside kept attributes = running folds (SuiteRelOrder cum
    sum); lag/lead/nth = windowed per-tuple values with type-default
    fill (SuiteRelOrder.andl:33-46).
  * `select{*}`: `*` = every attribute not otherwise mentioned; bare
    names after `*` are removals; `X := A` consumes A (rename)
    (SuiteRelBasic.andl projection/rename block).
  * Dyadic set ops on differing headings project onto the common
    attributes (SuiteRelDyadic.andl:26-30).
  * Non-commutative folds (-, /, &, user functions) fold sequentially
    in relation order (SuiteRelFold.andl:34-36).
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import pointer
from ..operators import joins as _joins
from ..operators.runfold import _ANDL_OPS, RUN_OPS, grouped_running
from ..relation import Relation, _ANDL_TYPE
from ..util import local_frame
from .parser import parse

# ---------------------------------------------------------------------
# values
# ---------------------------------------------------------------------


class RelV:
    """Relation value: a Relation plus pending `.order()` keys."""

    def __init__(self, rel: Relation, order=None):
        self.rel = rel
        self.order = order  # list[(name, desc, grouped)] | None

    @property
    def df(self) -> DataFrame:
        return self.rel.df

    def cols(self) -> list[str]:
        return self.rel.df.columns


class TupV(dict):
    """Tuple value: attribute name → value."""


class UdtV(TupV):
    """User-defined-type value (sample1.andl `type ut1(...)`) — a tuple
    that remembers its type name for `.type` (Builtin.cs Type addin)."""

    def __init__(self, typename: str, items):
        super().__init__(items)
        self.typename = typename


class LocalRel:
    """Driver-side relation for values Spark cannot column-ize —
    function-valued attributes (SuiteDefer funvals-in-relation). The
    reference's tables are all local; here ONLY this corner is, and it
    converts back to a Spark RelV the moment a projection drops the
    function values."""

    def __init__(self, tuples: list[TupV]):
        self.tuples = tuples

    def cols(self) -> list[str]:
        return list(self.tuples[0].keys()) if self.tuples else []


class FuncDef:
    def __init__(self, name, params, body, rtype, env=None):
        self.name = name
        self.params = params  # [(name, andl_type)]
        self.body = body      # ("body", expr) | ("do", [stmts])
        self.declared_rtype = rtype  # raw annotation (None if omitted)
        self.rtype = rtype or (params[0][1] if params else "number")
        self.env = env        # lexical scope for defs inside do-blocks


class FuncVal:
    """First-class function value (SuiteDefer funvals) — equality is
    identity: two structurally-equal literals are distinct values."""

    def __init__(self, fd: FuncDef):
        self.fd = fd


class StopScript(Exception):
    """#stop directive — end script execution."""


_SPARK_TYPES = {
    "number": T.DoubleType(),
    "text": T.StringType(),
    "bool": T.BooleanType(),
    "time": T.TimestampType(),
    "binary": T.BinaryType(),
}
_TYPE_DEFAULTS = {"number": 0.0, "text": "", "bool": False, "time": None, "binary": b""}

#: ops needing sequential (ordered) evaluation; others hash-aggregate
_ORDER_DEP_FOLDS = {"-", "/", "&"}
_COMMUT_FOLDS = {"+", "*", "max", "min", "and", "or", "union"}
_WINDOW_FNS = {"lag", "lead", "nth", "ord", "ordg"}

#: pointer stem of the catalog's typed manifest (values, types, defs,
#: relvar names) — committed as ``_lang_catalog.v<N>.json``
_LANG_MANIFEST_STEM = "_lang_catalog"


def _andl_num_text(v: float) -> str:
    return str(int(v)) if float(v).is_integer() else repr(float(v))


def andl_text(v) -> str:
    """Andl text rendering: 20.0 → '20', true → 'true'."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, Decimal)):
        return _andl_num_text(v)
    if isinstance(v, date) and not isinstance(v, datetime):
        return v.strftime("%d/%m/%Y")  # date subtype (sample6.andl)
    if isinstance(v, datetime):
        # date-only values render dd/mm/yyyy (SuiteBasic.andl:10 concat)
        if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
            return v.strftime("%d/%m/%Y")
        return v.isoformat(sep=" ")
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()  # b'dead' & ... renders 'dead' (SuiteDefer fn6)
    if hasattr(v, "asDict"):  # nested struct ({*} embed)
        return "(" + ", ".join(andl_text(x) for x in v) + ")"
    if isinstance(v, dict):  # tuple / UDT value
        return "{" + ", ".join(f"{k}:{andl_text(x)}" for k, x in v.items()) + "}"
    if isinstance(v, list):  # nested RVA renders as a relation
        return "{{" + "; ".join(andl_text(x) for x in v) + "}}"
    return str(v)


def _num_eq(a, b) -> bool:
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)


def parse_time(text: str) -> datetime:
    """t'...' literal formats seen in the suites: ISO, dd/mm/yyyy
    (SuiteBasic.andl:11 `t'31/12/2015'`), yyyy/mm/dd (`t'2016/12/31'`),
    each optionally followed by hh:mm:ss (sample1.andl:31)."""
    text = text.strip()
    if "/" in text:
        dpart, _, tpart = text.partition(" ")
        parts = dpart.split("/")
        fmt = "%Y/%m/%d" if len(parts[0]) == 4 else "%d/%m/%Y"
        dt = datetime.strptime(dpart, fmt)
        if tpart.strip():
            t = datetime.strptime(tpart.strip(), "%H:%M:%S")
            dt = dt.replace(hour=t.hour, minute=t.minute, second=t.second)
        return dt
    return datetime.fromisoformat(text)


# ---------------------------------------------------------------------
# session
# ---------------------------------------------------------------------


class AndlSession:
    """One Andl script-execution session over a SparkSession."""

    def __init__(
        self,
        spark,
        script_dir: str | Path | None = None,
        ignore_stop: bool = False,
        catalog_path: str | Path | None = None,
        db_path: str | Path | None = None,
    ):
        self.spark = spark
        # SQL database behind `var X(db)` (setup-chinook.andl:9-10; the
        # reference's second CLI positional names a .sqandl database)
        self.db_path = str(db_path) if db_path else None
        self.ignore_stop = ignore_stop
        self.globals: dict[str, object] = {}
        self.defs: dict[str, list[FuncDef]] = {}  # name → overload set
        self.types: dict[str, list] = {}
        self.tests: list[tuple[float, bool]] = []
        self.output: list[str] = []
        self.inputs: list[str] = []  # read() consumes these (headless console)
        self.script_dir = Path(script_dir) if script_dir else None
        self.filename = "<script>"
        self.catalog_update = False
        self.noisy = 1  # #noisy N display verbosity (0 = quiet)
        self._catalog = None
        # catalog-resident helpers the suites rely on (SetupSuite.andl:28-29)
        self.run("def fold_sum(n:0) => fold(+,n)\ndef fold_ave(n:0) => fold(+,n)/fold(+,1)")
        if catalog_path is not None:
            self._attach_catalog(Path(catalog_path))

    # -- persistent catalog (Catalog.cs / Test/SuiteUpdateCat*.andl) ----
    def _attach_catalog(self, path: Path):
        """Open a persistent catalog: relvars live as parquet through
        sources.catalog.Catalog; scalars, tuples, TYPES and OPERATORS
        live in a typed JSON manifest (operators as ASTs, recompiled on
        load — the Catalog.cs parity: `def f(x) => ...` written under
        `#catalog update` survives into any later session). The manifest
        commits as ``_lang_catalog.v<N>.json`` through the versioned
        pointer protocol (andl_spark.pointer), so a crash mid-commit
        leaves the previous manifest readable."""
        from ..sources.catalog import Catalog as _RelvarCatalog

        self._catalog = _RelvarCatalog(self.spark, str(path))
        self._catalog_dir = str(path)
        got = pointer.read(self._catalog_dir, _LANG_MANIFEST_STEM)
        if got is not None:
            m = got[1]
            for name, enc in m.get("values", {}).items():
                self.globals[name] = _decode_value(enc)
            for name, fields in m.get("types", {}).items():
                self.types[name] = [tuple(f) for f in fields]
            for name, encs in m.get("defs", {}).items():
                self.defs[name] = [
                    FuncDef(name, [tuple(p) for p in d["params"]],
                            _ast_from_json(d["body"]), d.get("rtype"))
                    for d in encs
                ]
            for name in m.get("relvars", []):
                self.globals[name] = RelV(Relation(self._catalog.get(name)))

    def _persist(self, kind: str, name: str, payload) -> None:
        if self._catalog is None or not self.catalog_update:
            return
        m = {"values": {}, "types": {}, "defs": {}, "relvars": []}
        got = pointer.read(self._catalog_dir, _LANG_MANIFEST_STEM)
        if got is not None:
            m.update(got[1])
        if kind == "value":
            if isinstance(payload, RelV):
                self._catalog.put(name, payload.df)
                if name not in m["relvars"]:
                    m["relvars"].append(name)
            else:
                m["values"][name] = _encode_value(payload)
        elif kind == "type":
            m["types"][name] = [list(f) for f in payload]
        elif kind == "def":
            m["defs"][name] = [
                {
                    "params": [list(p) for p in fd.params],
                    # the RAW annotation: persisting the defaulted
                    # rtype would turn it into a declaration on reload
                    "rtype": fd.declared_rtype,
                    "body": _ast_to_json(fd.body),
                }
                for fd in payload
                if fd.env is None  # closures over locals don't round-trip
            ]
        pointer.commit(self._catalog_dir, _LANG_MANIFEST_STEM, m)

    # -- public API ----------------------------------------------------
    @property
    def failures(self) -> list[float]:
        return [line for line, ok in self.tests if not ok]

    def globals_query(self, name: str):
        """Evaluate a catalog introspection name (andl_catalog /
        andl_variable / andl_operator / andl_member) and collect its
        rows — the host-side accessor for the served introspection."""
        return self._lookup(name, self.globals).df.collect()

    def run(self, src: str, filename: str = "<script>") -> "AndlSession":
        self.filename = filename
        src = self._preprocess(src, filename)
        try:
            for stmt in parse(src):
                self._exec(stmt, self.globals)
        except StopScript:
            pass
        return self

    def run_path(self, path: str | Path) -> "AndlSession":
        path = Path(path)
        if self.script_dir is None:
            self.script_dir = path.parent
        data = path.read_bytes()
        try:
            src = data.decode("utf-8")
        except UnicodeDecodeError:
            src = data.decode("cp1252")  # SPPsample1.andl smart quotes
        return self.run(src, path.name)

    def load_csv(self, name: str, heading=None, directory=None):
        """var S:{...}(csv) — CSV named <name>.csv beside the script
        (Andl.Runtime/DataSourceCsv.cs). Positional rename sidesteps the
        BOM in the reference's files; single partition preserves file
        order, which take/skip and implicit fold order depend on.
        Without a heading (`var orgchart(csv)`) the schema is inferred
        and numeric columns become Andl numbers."""
        directory = Path(directory) if directory else self.script_dir
        reader = self.spark.read.option("header", True)
        if heading is None:
            df = reader.option("inferSchema", True).csv(
                str(directory / f"{name}.csv")
            ).coalesce(1)
            df = df.toDF(*[c.lstrip("﻿") for c in df.columns])
            casts = {
                f.name: F.col(f.name).cast("double")
                for f in df.schema.fields
                if f.dataType.simpleString() in ("int", "bigint", "float")
            }
        else:
            df = reader.csv(str(directory / f"{name}.csv")).coalesce(1)
            df = df.toDF(*[n for n, _ in heading])
            casts = {n: F.col(n).cast(_SPARK_TYPES[t]) for n, t in heading if t != "text"}
        if casts:
            df = df.withColumns(casts)
        self.globals[name] = RelV(Relation(df))
        return self.globals[name]

    # -- statements ----------------------------------------------------
    def _preprocess(self, src: str, filename: str) -> str:
        out = []
        for i, line in enumerate(src.splitlines(), start=1):
            line = line.replace("$lineno$", str(i))
            line = line.replace("$filename$", "'" + filename + "'")
            out.append(line)
        return "\n".join(out)

    def _exec(self, stmt, env):
        kind = stmt[0]
        if kind == "directive":
            words = stmt[1].split()
            if words[0] == "#stop" and not self.ignore_stop:
                raise StopScript()
            if words[0] == "#catalog":
                # `#catalog update` / `#catalog new update`: subsequent
                # ^-prefixed assignments, defs and types persist
                self.catalog_update = "update" in words
            if words[0] == "#noisy" and len(words) > 1:
                # NoisyDirective (PegParser.cs:206 — Logger verbosity):
                # level 0 silences expression displays; write() and
                # test_true still report
                self.noisy = int(words[1])
            if words[0] in ("#include", "#source"):
                # IncludeDirective / SourceDirective
                # (Andl.Peg/Andl.grammar.peg:44,49, PegParser.cs:200,213):
                # inline another script / point CSV loads elsewhere
                import re as _re

                m = _re.search(r"""['"]([^'"]+)['"]""", stmt[1])
                if not m:
                    raise ValueError(f"{words[0]}: expected a quoted path")
                path = Path(m.group(1))
                if not path.is_absolute() and self.script_dir is not None:
                    path = self.script_dir / path
                if words[0] == "#source":
                    self.script_dir = path
                else:
                    if not path.exists():
                        raise ValueError(f"cannot include '{m.group(1)}'")
                    # cycle guard: a script including itself (directly
                    # or mutually) must fail with a diagnostic, not
                    # recurse to RecursionError
                    rp = str(path.resolve())
                    active = getattr(self, "_include_stack", None)
                    if active is None:
                        active = self._include_stack = []
                    if rp in active:
                        chain = " -> ".join(
                            Path(p).name for p in active + [rp])
                        raise ValueError(f"circular #include: {chain}")
                    prev = self.filename
                    src = self._preprocess(path.read_text(), path.name)
                    self.filename = path.name
                    active.append(rp)
                    try:
                        for s in parse(src):
                            self._exec(s, env)
                    finally:
                        active.pop()
                        self.filename = prev
            return
        if kind == "assign":
            v = self.eval(stmt[2], env)
            env[stmt[1]] = v
            if stmt[1] == "output":  # console variable (DbixCdSample.andl
                self._display(v)     # show(); sample1 'output :=' comment)
            if stmt[1].startswith("^"):
                self._persist("value", stmt[1], v)
            return
        if kind == "var_decl":
            _, name, heading, source, _line = stmt
            if source == "csv":
                self.load_csv(name, heading)
            elif source in ("db", "sql"):
                # import a table from the attached SQL database
                # (setup-chinook.andl:9; DataSourceSql.cs)
                if self.db_path is None:
                    raise ValueError(
                        f"var {name}(db): no database attached "
                        "(pass db_path= / a .sqlite CLI positional)")
                from ..sources.sqlite_src import read_sqlite

                self.globals[name] = RelV(
                    Relation(read_sqlite(self.spark, self.db_path, name)))
            elif heading is not None:  # typed empty relvar
                self.globals[name] = self._empty_rel(heading)
            else:
                raise ValueError(f"var {name!r}: unknown source {source!r}")
            # Under `#catalog [new] update` the reference adds declared
            # relvars to the persistent catalog (Catalog.cs LoadFlag/
            # SaveFlag; setup-workbench.andl declares S/P/SP this way
            # and workbench.andl then reads them from the catalog).
            self._persist("value", name, self.globals[name])
            return
        if kind == "def":
            _, name, params, body, _line, rtype = stmt
            fd = FuncDef(name, params, body, rtype,
                         env=env if env is not self.globals else None)
            ov = self.defs.setdefault(name, [])
            sig = [t for _, t in params]
            ov[:] = [f for f in ov if [t for _, t in f.params] != sig]
            ov.append(fd)
            self._persist("def", name, ov)
            return
        if kind == "type":
            self.types[stmt[1]] = stmt[2]
            self._persist("type", stmt[1], stmt[2])
            return
        if kind == "block":  # type a(...), b(...) multi-declaration
            for s in stmt[1]:
                self._exec(s, env)
            return
        if kind == "update":
            self._do_update(stmt[1], stmt[2], env)
            return
        if kind == "expr":
            v = self.eval(stmt[1], env)
            self._display(v)
            return
        raise ValueError(f"unknown statement {kind}")

    def _do_update(self, name, expr_ast, env):
        """`update r ...` relvar mutation (sample3.andl Updates;
        Runtime/DataTableLocal.cs UpdateJoin/UpdateTransform):
        - `update r union REL`   insert (any dyadic evaluates wholesale)
        - `update r .where(p) .select{}`        delete matching rows
        - `update r .where(p) .select{*b:=e}`   transform matching rows
        """
        if (
            expr_ast[0] == "select"
            and expr_ast[1][0] == "where"
            and expr_ast[1][1] == ("name", name)
        ):
            cond, items = expr_ast[1][2], expr_ast[2]
            cur = self._coerce_rel(self._lookup(name, env))
            kept = self._do_where(cur, ("not", cond), env)
            if not any(it[0] != "star" for it in items):
                new = kept  # delete: matching rows replaced by nothing
            else:
                changed = self._do_select(self._do_where(cur, cond, env), items, env)
                new = self._driver_dyadic("union", kept, changed)
        else:
            new = self.eval(expr_ast, env)
        if isinstance(env, _Chain):
            if not env.set_existing(name, new):
                env[name] = new
        else:
            env[name] = new
        if name.startswith("^"):
            self._persist("value", name, new)

    def _format(self, v) -> str:
        if isinstance(v, RelV):
            rows = v.df.limit(21).collect()
            body = "; ".join(
                "(" + ", ".join(andl_text(x) if x is not None else "" for x in r) + ")"
                for r in rows[:20]
            )
            return f"{{{{{', '.join(v.cols())}}}}} {body}"
        return andl_text(v)

    def _display(self, v):
        if v is not None and self.noisy > 0:
            self.output.append(self._format(v))

    # -- driver-level evaluation ---------------------------------------
    def eval(self, ast, env):
        kind = ast[0]
        if kind == "num":
            return ast[1]
        if kind == "str":
            return ast[1]
        if kind == "bool":
            return ast[1]
        if kind == "timelit":
            return parse_time(ast[1])
        if kind == "binlit":
            h = ast[1].replace(" ", "")
            # odd trailing nibble is dropped (AstFactory.cs:744 len/2)
            return bytes.fromhex(h[: len(h) // 2 * 2])
        if kind == "name":
            return self._lookup(ast[1], env)
        if kind == "tuple":
            return TupV((n, self.eval(e, env)) for n, e in ast[1])
        if kind == "rel_empty":
            return RelV(Relation(self.spark.range(1 if ast[1] else 0).select()))
        if kind == "rel_tuples":
            return self._rel_from_tuples([
                TupV((n, self.eval(e, env)) for n, e in binds) for binds in ast[1]
            ])
        if kind == "rel_call":  # rel(tup-expr, ...) constructor
            return self._rel_from_tuples([self.eval(e, env) for e in ast[1]])
        if kind == "rel_typed":
            return self._rel_typed(ast[1], ast[2], env)
        if kind == "if":
            return self.eval(ast[2] if _truthy(self.eval(ast[1], env)) else ast[3], env)
        if kind == "neg":
            return -_as_number(self.eval(ast[1], env))
        if kind == "not":
            return not _truthy(self.eval(ast[1], env))
        if kind == "binop":
            return self._driver_binop(ast[1], ast[2], ast[3], env)
        if kind == "dyadic":
            return self._driver_dyadic(ast[1], self.eval(ast[2], env), self.eval(ast[3], env))
        if kind == "call":
            return self._driver_call(ast[1], ast[2], env)
        if kind == "doblock":  # do { ... }: local scope, last expr value
            child = _Chain({}, env)
            result = None
            for stmt in ast[1]:
                if stmt[0] == "assign":
                    child[stmt[1]] = v = self.eval(stmt[2], child)
                    if stmt[1] == "output":
                        self._display(v)
                elif stmt[0] == "expr":
                    result = self.eval(stmt[1], child)
                else:
                    self._exec(stmt, child)
            return result
        if kind == "deflit":
            return FuncVal(FuncDef("<fn>", ast[1], ast[2], None, env=env))
        if kind == "callv":
            f = self.eval(ast[1], env)
            if not isinstance(f, FuncVal):
                raise TypeError("not a function value")
            return self._call_user(f.fd, [self.eval(a, env) for a in ast[2]])
        if kind == "dotname":
            return self._driver_dot(self.eval(ast[1], env), ast[2])
        if kind == "tup_star":  # {*}: the current tuple (sample3.andl)
            return TupV(self._lookup("__tuple__", env))
        if kind == "rel_star":  # {{*}}: current tuple as singleton relation
            t = TupV(self._lookup("__tuple__", env))
            for it in ast[1]:
                if it[0] == "bind":
                    t[it[1]] = self.eval(it[2], env)
            return self._rel_from_tuples([t])
        if kind == "where":
            return self._do_where(self._coerce_rel(self.eval(ast[1], env)), ast[2], env)
        if kind == "select":
            return self._do_select(self._coerce_rel(self.eval(ast[1], env)), ast[2], env)
        if kind == "order":
            v = self._coerce_rel(self.eval(ast[1], env))
            return RelV(v.rel, order=list(ast[2]))
        if kind == "while":
            seed_name = ast[1][1] if ast[1][0] == "name" else None
            local = self._try_while_local(ast[1], ast[2], env)
            if local is not None:
                return local
            return self._do_while(self.eval(ast[1], env), ast[2], env, seed_name)
        if kind == "fold":
            raise ValueError("fold() is only allowed inside .select{}")
        raise ValueError(f"cannot evaluate {kind}")

    def _lookup(self, name, env):
        if name in env:
            return env[name]
        if env is not self.globals and name in self.globals:
            return self.globals[name]
        fd = self._resolve_def(name, 0)
        if fd is not None:
            # argless operator referenced bare: `def1 => 42; def1 = 42`;
            # re-evaluated each reference (SuiteDefer df2 sees dv1 updates)
            return self._call_user(fd, [])
        if name == "andl_catalog":  # catalog listing (setup.andl tail)
            rows = [(n, _andl_type_of(v) or "unknown") for n, v in self.globals.items()]
            return RelV(Relation(
                local_frame(self.spark, rows or [("", "")], "Name string, Type string")
            ))
        # catalog introspection relations (Catalog.cs:101-106 headings,
        # Builtin.cs:119-121 Variables/Operators/Members addins):
        # structured values link to andl_member rows via a generated
        # heading name <name>:h (variables) / <name>:a (operator args).
        if name == "andl_variable":
            rows = [
                (n, _andl_type_of(v) or "unknown",
                 f"{n}:h" if isinstance(v, (RelV, TupV)) else "")
                for n, v in self.globals.items()
            ]
            return RelV(Relation(local_frame(
                self.spark, rows or [("", "", "")],
                "Name string, Type string, Members string",
            )))
        if name == "andl_operator":
            rows = [
                (fd.name, fd.rtype, "", f"{fd.name}:a" if fd.params else "")
                for fds in self.defs.values() for fd in fds
            ]
            return RelV(Relation(local_frame(
                self.spark, rows or [("", "", "", "")],
                "Name string, Type string, Members string, Arguments string",
            )))
        if name == "andl_member":
            rows = []
            for n, v in self.globals.items():
                if isinstance(v, RelV):
                    for i, f in enumerate(v.df.schema.fields):
                        rows.append((
                            f"{n}:h", float(i + 1), f.name,
                            _ANDL_TYPE.get(f.dataType.simpleString(),
                                           f.dataType.simpleString()), "",
                        ))
                elif isinstance(v, TupV):
                    for i, (k, x) in enumerate(v.items()):
                        rows.append((f"{n}:h", float(i + 1), k,
                                     _andl_type_of(x) or "unknown", ""))
            for fds in self.defs.values():
                for fd in fds:
                    for i, (p, pt) in enumerate(fd.params):
                        rows.append((f"{fd.name}:a", float(i + 1), p, pt, ""))
            return RelV(Relation(local_frame(
                self.spark, rows or [("", 0.0, "", "", "")],
                "MemberOf string, Index double, Name string, Type string, Members string",
            )))
        raise NameError(f"unknown name {name!r}")

    def _resolve_def(self, name, nargs, arg_types=None):
        """Pick the overload by arity, then by declared-vs-actual
        parameter types (SuiteDefer fov1/fov2 overload block)."""
        cands = [fd for fd in self.defs.get(name, []) if len(fd.params) == nargs]
        if not cands:
            return None
        if len(cands) == 1 or not arg_types:
            return cands[0]

        def score(fd):
            return sum(
                1 for (_, pt), at in zip(fd.params, arg_types) if at is not None and pt == at
            )

        return max(cands, key=score)

    # -- binops / dyadics (driver) -------------------------------------
    def _driver_binop(self, op, last, rast, env):
        if op == "and":
            l = self.eval(last, env)
            if isinstance(l, bool) and not l:
                return False
            r = self.eval(rast, env)
            if isinstance(l, bool):
                return _truthy(r)
            return Decimal(int(l) & int(r))  # numbers: bitwise (SuiteRelFold bitand)
        if op == "or":
            l = self.eval(last, env)
            if isinstance(l, bool) and l:
                return True
            r = self.eval(rast, env)
            if isinstance(l, bool):
                return _truthy(r)
            return Decimal(int(l) | int(r))
        l, r = self.eval(last, env), self.eval(rast, env)
        if op == "xor":
            if isinstance(l, bool):
                return _truthy(l) != _truthy(r)
            return Decimal(int(l) ^ int(r))
        if op == "=":
            return self._deep_eq(l, r)
        if op == "<>":
            return not self._deep_eq(l, r)
        if op == "&":
            return _andl_text_scalar(self._scalarize(l)) + _andl_text_scalar(self._scalarize(r))
        if op == "=~":
            import re as _re

            return _re.search(str(r), str(self._scalarize(l))) is not None
        l, r = self._scalarize(l), self._scalarize(r)
        if op in ("<", ">", "<=", ">="):
            import operator as _op

            if isinstance(l, TupV) and isinstance(r, TupV):
                # user-type ordering: field order (SuiteBasic uvar11 > uvar1)
                l, r = tuple(l.values()), tuple(r.values())
            return {"<": _op.lt, ">": _op.gt, "<=": _op.le, ">=": _op.ge}[op](l, r)
        a, b = _as_number(l), _as_number(r)
        if op == "+":
            return a + b
        if op == "-":
            return a - b
        if op == "*":
            return a * b
        if op == "/":
            return a / b
        if op == "**":
            try:
                return a ** b
            except Exception:  # Decimal can't: fall back to double pow
                try:
                    # math.pow, not float**float: the latter returns a
                    # COMPLEX number for negative base ** fractional
                    # exponent, which Decimal(str(...)) cannot parse
                    return Decimal(str(math.pow(float(a), float(b))))
                except (ValueError, OverflowError) as e:
                    raise ValueError(f"invalid power: {a} ** {b}") from e
        if op == "mod":
            return a % b  # Decimal remainder: sign of dividend, like C#
        if op == "div":  # truncating integer division (Builtin.cs:693)
            return Decimal(math.trunc(Decimal(math.trunc(a)) / Decimal(math.trunc(b))))
        raise ValueError(f"unknown operator {op}")

    def _coerce_rel(self, v):
        """Lifted-RVA list values behave as relations downstream."""
        return self._rel_from_rows(v) if isinstance(v, list) else v

    def _driver_dyadic(self, op, l, r):
        l, r = self._coerce_rel(l), self._coerce_rel(r)
        if isinstance(l, TupV) and isinstance(r, TupV):
            return _tuple_setop(op, l, r)
        if not (isinstance(l, RelV) and isinstance(r, RelV)):
            raise TypeError(f"dyadic {op} needs relations or tuples")
        lr_, rr_ = l.rel, r.rel
        if op in ("sub", "sup", "sep"):
            return self._subsetop(op, lr_, rr_)
        keep = {
            "join": "all", "joinl": "left", "joinr": "right", "joinlc": "leftc",
            "joinlr": "lr", "joincr": "cr", "compose": "lr",
            # sample2.andl:150-155 comment block fixes these projections
            "semijoin": "leftc", "divide": "left", "rsemijoin": "cr", "rdivide": "right",
        }
        if op in keep:
            return RelV(Relation(_joins.natural_join(lr_.df, rr_.df, keep[op])))
        if op == "ajoin":
            return RelV(Relation(_joins.antijoin(lr_.df, rr_.df)))
        if op == "ajoinl":
            return RelV(Relation(_joins.antijoin_trimmed(lr_.df, rr_.df)))
        if op == "rajoin":
            return RelV(Relation(_joins.antijoin(rr_.df, lr_.df)))
        if op == "rajoinr":
            return RelV(Relation(_joins.antijoin_trimmed(rr_.df, lr_.df)))
        method = {
            "union": lr_.union, "minus": lr_.minus, "intersect": lr_.intersect,
            "symdiff": lr_.symdiff,
        }
        if op in method:
            return RelV(method[op](rr_))
        if op == "rminus":
            return RelV(rr_.minus(lr_))
        raise ValueError(f"unknown dyadic {op}")

    def _subsetop(self, op, lr_: Relation, rr_: Relation) -> bool:
        # zero-degree relations: the only tuple is (), so containment
        # reduces to emptiness tests (SuiteRelBasic {{}} sub {{:}} rows)
        if not lr_.df.columns or not rr_.df.columns:
            if set(lr_.df.columns) != set(rr_.df.columns):
                return False
            le, re_ = lr_.df.isEmpty(), rr_.df.isEmpty()
            if op == "sub":
                return le or not re_
            if op == "sup":
                return re_ or not le
            return le or re_
        return {"sub": lr_.sub, "sup": lr_.sup, "sep": lr_.sep}[op](rr_)

    # -- calls (driver) -------------------------------------------------
    def _driver_call(self, name, args, env):
        if name == "test_true":
            line = _as_number(self.eval(args[0], env))
            ok = self.eval(args[1], env) is True
            self.tests.append((line, ok))
            if not ok:
                self.output.append(f">>>FAIL: line no {andl_text(line)}")
            return None
        if name in ("start", "finish"):
            which = "start" if name == "start" else "complete"
            self.output.append(f"Test suite {which}: {self.eval(args[0], env)}")
            return None
        if name == "write":
            self.output.append(_andl_text_scalar(self._scalarize(self.eval(args[0], env))))
            return None
        if name == "pause":
            return None
        if name in self.defs:
            vals = [self.eval(a, env) for a in args]
            fd = self._resolve_def(name, len(vals), [_andl_type_of(v) for v in vals])
            if fd is None:
                raise TypeError(f"no {name!r} overload takes {len(vals)} arguments")
            return self._call_user(fd, vals)
        if name in self.types:
            fields = self.types[name]
            return UdtV(name, ((fn, self.eval(a, env)) for (fn, _), a in zip(fields, args)))
        # a name bound to a function VALUE: vfnv1a('ab')
        try:
            v = self._lookup(name, env)
        except NameError:
            v = None
        if isinstance(v, FuncVal):
            return self._call_user(v.fd, [self.eval(a, env) for a in args])
        vals = [self.eval(a, env) for a in args]
        # method-style call on a function-valued tuple field: vfnv3a.f('ab')
        if vals and isinstance(vals[0], TupV) and isinstance(vals[0].get(name), FuncVal):
            return self._call_user(vals[0][name].fd, vals[1:])
        return self._builtin(name, vals)

    def _call_user(self, fd: FuncDef, vals):
        scope = dict(zip((p for p, _ in fd.params), vals))
        parent = fd.env if fd.env is not None else self.globals
        if fd.body[0] == "body":
            return self.eval(fd.body[1], _Chain(scope, parent))
        result = None
        child = _Chain(scope, parent)
        for stmt in fd.body[1]:
            if stmt[0] == "assign":
                child[stmt[1]] = v = self.eval(stmt[2], child)
                if stmt[1] == "output":  # console var (DbixCdSample show)
                    self._display(v)
            elif stmt[0] == "expr":
                result = self.eval(stmt[1], child)
            else:
                self._exec(stmt, child)
        return result

    def _builtin(self, name, vals):
        v = vals[0] if vals else None
        if name == "count":
            return float(v.rel.count())
        if name == "degree":
            return float(v.rel.degree())
        if name == "schema":
            return self._schema_rel(v)
        if name == "seq":
            return RelV(Relation(
                self.spark.range(int(_as_number(v))).select(F.col("id").cast("double").alias("N"))
            ))
        if name == "now":
            return datetime.now()
        if name == "date":  # time → date subtype (Builtin.cs:106 FromTime)
            return v.date() if isinstance(v, datetime) else v
        if name == "dateymd":  # Builtin.cs:1053 FromYmd
            return date(int(_as_number(vals[0])), int(_as_number(vals[1])),
                        int(_as_number(vals[2])))
        if name == "time":  # date → time (Builtin.cs:1057 TimeD) / parse text
            if isinstance(v, datetime):
                return v
            if isinstance(v, date):
                return datetime(v.year, v.month, v.day)
            return parse_time(str(v))
        if name == "daysdiff":  # (a - b).TotalDays (Builtin.cs:1066)
            a = v.date() if isinstance(v, datetime) else v
            b = vals[1].date() if isinstance(vals[1], datetime) else vals[1]
            return float((a - b).days)
        if name in ("year", "month", "day", "dow") and isinstance(v, (datetime, date)):
            return self._driver_dot(v, name)
        if name == "format":
            return _andl_format(self._scalarize(v))
        if name == "take" and isinstance(v, RelV):
            return RelV(v.rel.take(int(_as_number(vals[1]))), order=v.order)
        if name == "skip" and isinstance(v, RelV):
            return RelV(v.rel.skip(int(_as_number(vals[1]))), order=v.order)
        if name == "number":
            return _as_number(v)
        if name == "text":
            return _andl_text_scalar(self._scalarize(v))
        if name == "max":
            return max(vals[0], vals[1])
        if name == "min":
            return min(vals[0], vals[1])
        if name == "mod":  # decimal remainder, sign of dividend (like binop)
            return _as_number(vals[0]) % _as_number(vals[1])
        if name == "bool":  # Builtin.cs Bool conversion
            if isinstance(v, str):
                return v.strip().lower() == "true"
            return _truthy(v)
        if name == "binary":  # text → utf-8 bytes (Builtin.cs:82 Binary)
            return v if isinstance(v, bytes) else str(v).encode()
        if name == "blength" and isinstance(v, (bytes, bytearray)):
            return Decimal(len(v))
        if name == "bget" and isinstance(v, (bytes, bytearray)):
            i = int(_as_number(vals[1]))
            if not 0 <= i < len(v):
                raise IndexError("Binary get index out of range")  # Builtin.cs:889
            return Decimal(v[i])
        if name == "bset" and isinstance(v, (bytes, bytearray)):
            i, nv = int(_as_number(vals[1])), int(_as_number(vals[2]))
            if not 0 <= i < len(v):
                raise IndexError("Binary set index out of range")  # Builtin.cs:895
            b = bytearray(v)
            b[i] = nv & 0xFF
            return bytes(b)
        if name == "read":  # console input; headless: host-provided lines
            return self.inputs.pop(0) if self.inputs else ""
        if name == "assert":  # Assert(lineno, cond) — records like test_true
            line, ok = _as_number(vals[0]), vals[1] is True
            self.tests.append((float(line), ok))
            return None
        if name == "fail":  # Fail(code, message) → program error
            raise RuntimeError(f"fail({vals[0]}): {vals[1]}")
        # text builtins, driver flavor (Builtin.cs:917-930 — left/right
        # PAD to the requested width when the string is shorter)
        if name == "left":
            n = int(_as_number(vals[1]))
            s = str(v)
            return s.ljust(n) if n >= len(s) else s[:max(n, 0)]
        if name == "right":
            n = int(_as_number(vals[1]))
            s = str(v)
            return s.rjust(n) if n >= len(s) else s[len(s) - n:]
        if name == "fill":
            n = int(_as_number(vals[1]))
            return (str(v) * (n // max(len(str(v)), 1) + 1))[:n] if n > 0 else ""
        if name == "trim":
            return str(v).strip()
        if name == "length":
            return float(len(str(v)))
        if name == "tolower":
            return str(v).lower()
        if name == "toupper":
            return str(v).upper()
        if name == "before":
            s, sep = str(v), str(vals[1])
            return s.split(sep)[0] if sep in s else s
        if name == "after":
            s, sep = str(v), str(vals[1])
            return s.split(sep, 1)[1] if sep in s else ""
        if name in ("andl_catalog", "andl_variable", "andl_operator",
                    "andl_member"):
            # call form `andl_operator()` — same introspection relation
            # as the bare name (Andl.Client/WebSpApiSetup.andl:57)
            return self._lookup(name, self.globals)
        raise NameError(f"unknown function {name!r}")

    def _driver_dot(self, v, name):
        if name == "pp":  # pretty-print → text value (Builtin.cs PrettyPrint)
            return self._format(v)
        if name == "write":  # console sink: emit once, yield nothing so the
            # enclosing expr statement doesn't re-display; writes always
            # reach the console regardless of #noisy level
            if v is not None:
                self.output.append(self._format(v))
            return None
        if name == "type":  # type-name addin (Builtin.cs:80 Type)
            return _andl_type_of(v) or "unknown"
        if name == "format":  # display format (Builtin.cs:764 Format)
            return _andl_format(v)
        if isinstance(v, list):  # lifted RVA → treat as relation
            v = self._rel_from_rows(v)
        if isinstance(v, RelV):
            if name == "count":
                return float(v.rel.count())
            if name == "degree":
                return float(v.rel.degree())
            if name == "schema":
                return self._schema_rel(v)
            if name == "text":
                return self._format(v)
            raise AttributeError(f"relation has no property {name!r}")
        if isinstance(v, (datetime, date)) and name in ("year", "month", "day", "dow"):
            # date-subtype accessors (Builtin.cs:1058-1064; dow Sunday=0)
            if name == "dow":
                return float((v.weekday() + 1) % 7)
            return float(getattr(v, name))
        if isinstance(v, TupV) and name in v:
            return v[name]
        if name == "seq":
            return self._builtin("seq", [v])
        if name == "text":
            return _andl_text_scalar(v)
        if name == "number":
            return _as_number(v)
        if isinstance(v, str) and name in ("length", "trim", "toupper", "tolower"):
            return self._builtin(name, [v])
        raise AttributeError(f"no property {name!r}")

    def _rel_from_rows(self, rows) -> RelV:
        """Coerce a collected RVA value (list of Row/TupV/tuple) back
        into a Spark relation for postfix ops in driver fallbacks."""
        tups = []
        for r in rows:
            if isinstance(r, TupV):
                tups.append(r)
            elif hasattr(r, "asDict"):
                tups.append(_row_to_tup(r))
            else:
                raise TypeError("cannot relation-ize list element")
        if not tups:
            raise ValueError("cannot infer heading of empty RVA")
        return self._rel_from_tuples(tups)

    def _schema_rel(self, v: RelV) -> RelV:
        rows = [
            (f.name, _ANDL_TYPE.get(f.dataType.simpleString(), f.dataType.simpleString()))
            for f in v.df.schema.fields
        ]
        return RelV(Relation(local_frame(self.spark, rows, "Name string, Type string")))

    # -- relation construction -----------------------------------------
    def _empty_rel(self, heading) -> RelV:
        schema = T.StructType(
            [T.StructField(n, _SPARK_TYPES[t], True) for n, t in heading]
        )
        return RelV(Relation(local_frame(self.spark, [], schema)))

    def _rel_from_tuples(self, tuples: list[TupV]):
        if any(isinstance(x, FuncVal) for t in tuples for x in t.values()):
            return LocalRel(tuples)
        names = list(tuples[0].keys())
        rows, fieldtypes = [], None
        for t in tuples:
            vals = [_to_spark_value(t[n]) for n in names]
            if fieldtypes is None:
                fieldtypes = [tp for _, tp in vals]
            rows.append(tuple(v for v, _ in vals))
        schema = T.StructType(
            [T.StructField(n, tp, True) for n, tp in zip(names, fieldtypes)]
        )
        return RelV(Relation(local_frame(self.spark, rows, schema)))

    def _rel_typed(self, heading, rows_ast, env) -> RelV:
        if isinstance(heading, tuple) and heading and heading[0] == "ref":
            ref = heading[1]
            if ref in self.types:
                heading = self.types[ref]
            else:
                base = self._lookup(ref, env)
                schema = T.StructType(
                    [T.StructField(f.name, f.dataType, True) for f in base.df.schema.fields]
                )
                rows = [
                    tuple(_to_spark_value(self.eval(v, env))[0] for v in row)
                    for row in rows_ast
                ]
                return RelV(Relation(local_frame(self.spark, rows, schema)))
        schema = T.StructType(
            [T.StructField(n, _SPARK_TYPES[t], True) for n, t in heading]
        )
        rows = [
            tuple(_to_spark_value(self.eval(v, env))[0] for v in row) for row in rows_ast
        ]
        return RelV(Relation(local_frame(self.spark, rows, schema)))

    # -- equality -------------------------------------------------------
    def _scalarize(self, v):
        """Lift a singleton relation to its value (Andl lift coercion)."""
        if isinstance(v, RelV) and len(v.cols()) == 1:
            row = v.df.first()
            if row is None:
                return _dtype_default(v.df.schema.fields[0].dataType)
            return row[0]
        return v

    def _deep_eq(self, a, b) -> bool:
        if isinstance(a, FuncVal) or isinstance(b, FuncVal):
            return a is b  # function values compare by identity
        if isinstance(a, RelV) and isinstance(b, RelV):
            return self._rel_eq(a, b)
        if isinstance(a, RelV) or isinstance(b, RelV):
            rel, other = (a, b) if isinstance(a, RelV) else (b, a)
            if isinstance(other, list):  # lifted RVA vs relation
                # the literal side bounds the driver materialization:
                # one extra distinct row is enough to prove inequality.
                # Round floats engine-side FIRST so sub-1e-9 noise
                # collapses before distinct (matching _norm_rows'
                # tolerance), then _norm_rows re-rounds both sides.
                norm = [
                    F.round(F.col(f.name), 9).alias(f.name)
                    if f.dataType.simpleString() in ("double", "float")
                    else F.col(f.name)
                    for f in rel.df.schema.fields
                ]
                rows = (rel.df.select(*norm).distinct()
                        .limit(len(other) + 1).collect())
                return len(rows) <= len(other) and \
                    _norm_rows(rows) == _norm_rows(other)
            return self._deep_eq(self._scalarize(rel), other)
        if isinstance(a, TupV) and isinstance(b, TupV):
            return set(a) == set(b) and all(self._deep_eq(a[k], b[k]) for k in a)
        if isinstance(a, list) and isinstance(b, list):
            return _norm_rows(a) == _norm_rows(b)
        if isinstance(a, bool) or isinstance(b, bool):
            return a is b
        if isinstance(a, (int, float, Decimal)) and isinstance(b, (int, float, Decimal)):
            return _num_eq(a, b)
        return a == b

    def _rel_eq(self, a: RelV, b: RelV) -> bool:
        if set(a.cols()) != set(b.cols()):
            return False
        if not a.cols():  # zero-degree: equal iff same emptiness
            return a.df.isEmpty() == b.df.isEmpty()
        return a.rel.equals(b.rel)

    # -- where ----------------------------------------------------------
    def _do_where(self, v: RelV, cond_ast, env):
        # `{{cols}} sub R` membership predicates compile to semijoins
        # (distributed), not the capped driver loop — see
        # _where_membership.
        compiled = self._where_membership(v, cond_ast, env)
        if compiled is not None:
            return compiled
        try:
            ast = self._inline(cond_ast, {})
            ctx = _Ctx(self, v.df, env)
            return RelV(Relation(v.df.filter(self._compile(ast, ctx))), order=v.order)
        except (RecursionError, ValueError, NameError, TypeError):
            # conditions with relational sub-expressions ({{S#}} sub ...,
            # SPPsample1.andl Q1) evaluate per tuple on the driver, like
            # the reference's evaluator — bounded: sample scale only
            rows = v.df.limit(10001).collect()
            if len(rows) > 10000:
                raise ValueError("driver-side where fallback capped at 10k rows")
            keep = []
            for r in rows:
                rowd = r.asDict()
                scope = _Chain({**rowd, "__tuple__": dict(rowd)},
                               env if env is not None else self.globals)
                if _truthy(self.eval(cond_ast, scope)):
                    keep.append(r)
            out = local_frame(self.spark, keep, v.df.schema)
            return RelV(Relation(out), order=v.order)

    def _where_membership(self, v: RelV, cond_ast, env):
        """Compile `.where({{cols}} sub R)` (SPPsample1.andl Q1 set
        membership, optionally negated; also sep/sup) to a SEMIJOIN /
        ANTIJOIN instead of the 10k-capped per-tuple driver loop: a
        singleton relation {t'} is ⊆ R iff t' ∈ R, so the whole
        restriction is one distributed leftsemi (leftanti when negated
        / sep) against R's distinct projection. `{{t'}} sup R` reduces
        to R's ≤2 distinct rows (empty → keep all; one row → equality
        filter; more → keep none) — a bounded scalar probe, the same
        class as the while-loop's delta count. Returns None when the
        predicate isn't of this shape (correlated R, computed rhs,
        non-singleton lhs), leaving the general machinery to handle it.

        Reference: DataTableLocal.cs evaluates sub per-tuple; Spark
        expresses the same logic as one join the optimizer can
        broadcast or shuffle as R's measured size dictates
        (relation.py Relation.sub is the fluent-API twin)."""
        neg, ast = False, cond_ast
        if isinstance(ast, tuple) and ast[0] == "not":
            neg, ast = True, ast[1]
        if not (isinstance(ast, tuple) and ast[0] == "dyadic"
                and ast[1] in ("sub", "sep", "sup")):
            return None
        op, lhs, rhs = ast[1], ast[2], ast[3]
        if lhs[0] != "rel_tuples" or len(lhs[1]) != 1 or not lhs[1][0]:
            return None
        # shadowing guard: a name in rhs that is BOTH a column of the
        # restricted relation AND resolvable in the outer scope would
        # bind to the per-tuple value in the general path but to the
        # global here — bail to the general machinery for those
        # (e.g. an RVA attribute named like a global relvar).
        def _shadowed(node):
            if isinstance(node, tuple):
                if node[0] == "name" and node[1] in v.df.columns:
                    n = node[1]
                    outer = env if env is not None else self.globals
                    try:
                        in_env = n in outer
                    except TypeError:
                        in_env = False
                    if in_env or n in self.globals or n in self.defs:
                        return True
                return any(_shadowed(x) for x in node)
            if isinstance(node, list):
                return any(_shadowed(x) for x in node)
            return False

        if _shadowed(rhs):
            return None
        try:
            # tuple-side columns compile against the restricted relation
            ctx = _Ctx(self, v.df, env)
            exprs = [(name, self._compile(self._inline(a, {}), ctx))
                     for name, a in lhs[1][0]]
            # rhs must be UNCORRELATED: evaluated once in the outer env
            # (a tuple-column reference inside raises → general path)
            rv = self.eval(rhs, env if env is not None else self.globals)
        except (RecursionError, ValueError, NameError, TypeError, KeyError):
            return None
        rv = self._coerce_rel(rv)
        if not isinstance(rv, RelV):
            return None
        cols = [n for n, _ in exprs]
        if set(rv.cols()) != set(cols) or not cols:
            return None  # heading mismatch → let _subsetop raise properly
        if op == "sup":  # {t'} ⊇ R: R empty / exactly {t'}
            rows = rv.df.select(*cols).distinct().limit(2).collect()
            if not rows:
                keep = F.lit(not neg)
            elif len(rows) > 1:
                keep = F.lit(neg)
            else:
                eq = F.lit(True)
                for n, e in exprs:
                    eq = eq & e.eqNullSafe(F.lit(rows[0][n]))
                keep = ~eq if neg else eq
            return RelV(Relation(v.df.filter(keep)), order=v.order)
        probe = rv.df.select(
            *[F.col(n).alias(f"__mem_{n}") for n in cols]).distinct()
        cond = None
        for n, e in exprs:
            c = e.eqNullSafe(F.col(f"__mem_{n}"))
            cond = c if cond is None else (cond & c)
        # sub: member ⟺ keep; sep: disjoint ⟺ NOT member
        want_member = (op == "sub") != neg
        how = "leftsemi" if want_member else "leftanti"
        out = v.df.join(probe, cond, how)
        return RelV(Relation(out), order=v.order)

    # -- select ---------------------------------------------------------
    def _do_select(self, v, items, env):
        if isinstance(v, LocalRel):
            return self._local_select(v, items, env)
        df, order = v.df, v.order
        star = any(it[0] == "star" for it in items)
        keeps = [it[1] for it in items if it[0] == "keep"]

        def safe_inline(ast):
            try:
                return self._inline(ast, {})
            except RecursionError:
                # unboundedly-recursive def (fibonacci.andl fib) — leave
                # raw; compile will fail and trigger the driver fallback
                return ast

        raw_binds = [(it[1], it[2]) for it in items if it[0] == "bind"]
        binds = [(n, safe_inline(a)) for n, a in raw_binds]
        lifts = [safe_inline(it[1]) for it in items if it[0] == "lift"]

        if lifts:
            return self._do_lift(v, lifts[0], env)

        has_fold = any(_contains(ast, "fold") for _, ast in binds)
        has_win = any(_contains_call(ast, _WINDOW_FNS) for _, ast in binds)

        if has_fold and not (order and (keeps or star or has_win)):
            out = self._select_agg(df, order, keeps, binds, env)
        elif has_fold or has_win:
            out = self._select_windowed(df, order, star, keeps, binds, env)
        else:
            out = self._select_plain(df, star, keeps, binds, env, raw_binds)
        return RelV(Relation(out))

    def _local_select(self, v: LocalRel, items, env):
        """Per-tuple driver evaluation for function-valued relations;
        re-enters Spark as soon as the output is column-izable."""
        keeps = [it[1] for it in items if it[0] == "keep"]
        binds = [(it[1], it[2]) for it in items if it[0] == "bind"]
        out = []
        for t in v.tuples:
            scope = _Chain(dict(t), env if isinstance(env, dict) else self.globals)
            row = TupV((k, t[k]) for k in keeps)
            for n, ast in binds:
                row[n] = self.eval(ast, scope)
            out.append(row)
        seen, dedup = set(), []
        for r in out:
            key = tuple(sorted((k, repr(x)) for k, x in r.items()))
            if key not in seen:
                seen.add(key)
                dedup.append(r)
        return self._rel_from_tuples(dedup)

    def _output_heading(self, df, star, keeps, binds):
        """Andl select heading: see module docstring (`*` rules).

        A pure rename `{* New:=Old}` keeps Old's POSITION — the
        reference's heading replaces the attribute in place (proved by
        its own generated IDL: ThriftSupplierPart.thrift numbers Sid
        first for `Supplier := S .select{ *Sid:=S# }`, and Thrift
        field IDs are positional). Computed extensions still append."""
        bind_names = [n for n, _ in binds]
        if not star:
            return keeps + bind_names
        renames: dict[str, str] = {}
        appended: list[str] = []
        mentioned = set(keeps)
        for n, ast in binds:
            if (ast[0] == "name" and ast[1] in df.columns
                    and n not in df.columns and ast[1] not in renames):
                renames[ast[1]] = n  # pure rename consumes its source
                mentioned.add(ast[1])
            else:
                # computed extension — or a SECOND rename of the same
                # source ({* X:=A, Y:=A}): only one target can take A's
                # position; the rest append so no column is lost
                appended.append(n)
        base = []
        for c in df.columns:
            if c in renames:
                base.append(renames[c])
            elif c not in mentioned and c not in bind_names:
                base.append(c)
        return base + appended

    def _select_plain(self, df, star, keeps, binds, env, raw_binds=None):
        ctx = _Ctx(self, df, env)
        out_cols = self._output_heading(df, star, keeps, binds)
        try:
            exprs = {n: self._compile(a, ctx) for n, a in binds}
        except (RecursionError, ValueError, NameError, TypeError):
            # recursive functions / correlated relation subqueries can't
            # become one Column expression (Sample/fibonacci.andl fib,
            # 100doors.andl isopen) — evaluate per tuple on the driver,
            # like the reference's evaluator. Bounded: sample scale only.
            # Use the ORIGINAL (un-inlined) asts: textual inlining is not
            # hygienic — isopen(N)'s param x:=N must not capture the
            # body's inner relation column N; _call_user scopes by env.
            return self._select_local_rows(
                df, star, keeps, raw_binds or binds, env, out_cols
            )
        cols = [exprs[c].alias(c) if c in exprs else F.col(c) for c in out_cols]
        if not cols:
            return self.spark.range(0 if df.isEmpty() else 1).select()
        return df.select(*cols).dropDuplicates()

    def _select_local_rows(self, df, star, keeps, binds, env, out_cols):
        rows = df.limit(10001).collect()
        if len(rows) > 10000:
            raise ValueError("driver-side select fallback capped at 10k rows")
        # RVA columns re-enter as typed relations so empty ones keep
        # their heading (sample3 ES3: supplier S5's empty partition)
        rva_fields = {
            f.name: f.dataType.elementType
            for f in df.schema.fields
            if isinstance(f.dataType, T.ArrayType)
            and isinstance(f.dataType.elementType, T.StructType)
        }
        out = []
        for r in rows:
            rowd = r.asDict()
            for fname, elem in rva_fields.items():
                rowd[fname] = RelV(Relation(
                    local_frame(self.spark, rowd[fname] or [], elem)
                ))
            # {*} / {{*}} need the whole current tuple (sample3.andl nest)
            scope = _Chain({**rowd, "__tuple__": dict(rowd)},
                           env if env is not None else self.globals)
            vals = dict(rowd)
            for n, ast in binds:
                v = self.eval(ast, scope)
                if isinstance(v, RelV) and len(v.cols()) == 1:
                    v = self._scalarize(v)
                vals[n] = v
            out.append(TupV((c, vals[c]) for c in out_cols))
        rel = self._rel_from_tuples(out)
        if not isinstance(rel, RelV):
            raise TypeError("select fallback produced non-columnar values")
        return rel.df.dropDuplicates()

    def _do_lift(self, v: RelV, ast, env):
        """.select{(expr)} — lift to a scalar value."""
        if _contains(ast, "fold"):
            out = self._select_agg(v.df, v.order, [], [("__lift", ast)], env)
            lifted = self._scalarize(RelV(Relation(out)))
            if isinstance(lifted, list):  # fold(union, rva) → a relation
                return self._rel_from_rows(lifted)
            return lifted
        ctx = _Ctx(self, v.df, env)
        col = self._compile(ast, ctx)
        probe = v.df.select(col.alias("__lift"))
        row = probe.first()
        if row is None:
            return _dtype_default(probe.schema.fields[0].dataType)
        return row[0]

    # fold compilation ---------------------------------------------------
    def _select_agg(self, df, order, keeps, binds, env):
        """Aggregated projection: groupBy the bare attrs (plus %-grouped
        order keys), hash-aggregate commutative folds, sequential-fold
        the order-dependent ones over a sorted collected array."""
        group_keys = list(keeps)
        # non-fold computed binds are grouping attributes (SuiteRelBasic
        # fn3 block: bi := bi alongside folds groups per (bi, ti))
        plain = [(n, a) for n, a in binds if not _contains(a, "fold")]
        if plain:
            ctx0 = _Ctx(self, df, env)
            df = df.withColumns({n: self._compile(a, ctx0) for n, a in plain})
            group_keys += [n for n, _ in plain]
            binds = [(n, a) for n, a in binds if _contains(a, "fold")]
        order_keys = []
        if order:
            for name, desc, grouped in order:
                if grouped:
                    group_keys.append(name)
                else:
                    order_keys.append((name, desc))
        needs_order = any(
            self._fold_is_ordered(op) for op, _ in _collect_folds(binds)
        )
        if needs_order and not order_keys:
            # implicit relation order (CSV file order): stable row id
            df = df.withColumn("__ord", F.monotonically_increasing_id())
            order_keys = [("__ord", False)]

        ctx = _Ctx(self, df, env)
        aggs, post = {}, []
        fold_index = {}
        for name, ast in binds:
            def repl(op, val_ast):
                key = ("%s" % op, repr(val_ast))
                if key not in fold_index:
                    fname = f"__f{len(fold_index)}"
                    fold_index[key] = fname
                    aggs[fname] = self._fold_agg(op, val_ast, ctx, order_keys)
                return ("name", fold_index[key])

            post.append((name, _map_folds(ast, repl)))

        if group_keys:
            agg_df = df.groupBy(*group_keys).agg(*[c.alias(n) for n, c in aggs.items()])
        else:
            agg_df = df.agg(*[c.alias(n) for n, c in aggs.items()])
        pctx = _Ctx(self, agg_df, env)
        cols = [F.col(k) for k in group_keys]
        cols += [self._compile(a, pctx).alias(n) for n, a in post]
        return agg_df.select(*cols).dropDuplicates()

    def _fold_is_ordered(self, op) -> bool:
        return op in _ORDER_DEP_FOLDS or op in self.defs

    def _fold_agg(self, op, val_ast, ctx, order_keys) -> Column:
        val = self._compile(val_ast, ctx)
        # folds over an EMPTY relation yield the accumulator seed
        # (AccumulatorBlock.cs; sample3 ES3: S5's empty partition sums 0)
        if op == "+":
            return F.coalesce(F.sum(val), F.lit(0.0))
        if op == "*":
            return F.coalesce(F.product(val), F.lit(1.0))
        if op == "max":
            return F.max(val)
        if op == "min":
            return F.min(val)
        if op == "and":
            return F.coalesce(F.bool_and(val), F.lit(True))
        if op == "or":
            return F.coalesce(F.bool_or(val), F.lit(False))
        if op == "xor":
            styp = self._static_type(val_ast, ctx)
            if styp == "number":  # bitwise xor fold over numbers
                return F.aggregate(
                    F.collect_list(val.cast("long")),
                    F.lit(0).cast("long"),
                    lambda a, v: a.bitwiseXOR(v),
                ).cast("double")
            # booleans: xor = odd parity of trues (100doors.andl isopen)
            return F.sum(val.cast("long")) % 2 == 1
        if op == "union":  # fold(union, rva) — flatten RVAs
            return F.array_distinct(F.flatten(F.collect_list(val)))
        # sequential fold over values sorted by the order keys
        styp = self._static_type(val_ast, ctx)
        arr = self._sorted_values(val, ctx, order_keys)
        seed, step = self._fold_seed_step(op, styp, ctx)
        return F.aggregate(arr, seed, step)

    def _sorted_values(self, val: Column, ctx, order_keys) -> Column:
        keys = [
            (F.col(k) if isinstance(k, str) else k, desc) for k, desc in order_keys
        ]
        pairs = F.collect_list(
            F.struct(*[c.alias(f"k{i}") for i, (c, _) in enumerate(keys)], val.alias("v"))
        )
        descs = [d for _, d in keys]

        def cmp(l, r):
            res = F.lit(0)
            for i, desc in reversed(list(enumerate(descs))):
                lt, gt = (F.lit(1), F.lit(-1)) if desc else (F.lit(-1), F.lit(1))
                res = (
                    F.when(l[f"k{i}"] < r[f"k{i}"], lt)
                    .when(l[f"k{i}"] > r[f"k{i}"], gt)
                    .otherwise(res)
                )
            return res

        return F.transform(F.array_sort(pairs, cmp), lambda s: s["v"])

    def _fold_seed_step(self, op, styp, ctx):
        if op in self.defs:
            fd = self._resolve_def(op, 2, [styp, styp])
            if fd is None:
                raise ValueError(f"fold op {op!r} has no 2-argument overload")
            seed = _seed_for(fd.rtype)
            (p1, t1), (p2, t2) = fd.params[0], fd.params[1]
            body = fd.body[1] if fd.body[0] == "body" else None
            if body is None:  # do-block: inline assigns
                body = self._do_body_expr(fd)

            def step(acc, v):
                sub = dict(ctx.subst)
                sub[p1], sub[p2] = acc, v
                types = dict(ctx.types)
                types[p1], types[p2] = t1, t2
                return self._compile(body, ctx.with_subst(sub, types))

            return seed, step
        if op == "&":
            return F.lit(""), lambda acc, v: F.concat(acc, v)
        if op == "-":
            return F.lit(0.0), lambda acc, v: acc - v
        if op == "/":
            return F.lit(1.0), lambda acc, v: acc / v
        raise ValueError(f"unknown fold op {op!r}")

    def _do_body_expr(self, fd: FuncDef):
        """Flatten a do-block body into one expression by substituting
        local assignments (SuiteRelFold fdomax2/fdocat2)."""
        mapping = {}
        result = None
        for stmt in fd.body[1]:
            if stmt[0] == "assign":
                mapping[stmt[1]] = self._inline(stmt[2], mapping)
            elif stmt[0] == "expr":
                result = self._inline(stmt[1], mapping)
        return result

    def _select_windowed(self, df, order, star, keeps, binds, env):
        """Running folds and lag/lead/nth under .order() — window
        functions over the declared ordering.

        Every combinable running fold (+ * max min &) goes through the
        two-pass scheme of operators/runfold.grouped_running
        (_select_windowed_two_pass), grouped or not: a plain window
        maps a %group to ONE task (a zipf-head group becomes a
        straggler AQE can never split — VERDICT r5 finding 1), and
        without a %group Window.orderBy() funnels the whole relation
        through a single task (VERDICT r4 finding 2). The plain window
        (_select_windowed_1p) remains for what has no two-pass form:
        sequential fold ops (def'd folds, '-', '/') — single-partition
        when un-grouped, acceptable for the interpreter's display-bound
        outputs — and grouped lag/lead/nth/ord/ordg, whose frame
        semantics are positional within the group; also for a %group
        ordering with no order keys, whose in-group order is the
        input order."""
        parts, orders = [], []
        order_spec = []
        for name, desc, grouped in order or []:
            if grouped:
                parts.append(name)
            else:
                orders.append(F.col(name).desc() if desc else F.col(name))
                order_spec.append((name, desc))
        if not self._has_sequential_fold(binds) and (not parts or (
            order_spec
            and not any(_contains_call(a, _WINDOW_FNS) for _, a in binds)
        )):
            return self._select_windowed_two_pass(
                df, parts, order_spec, star, keeps, binds, env)
        return self._select_windowed_1p(df, parts, orders, star, keeps, binds, env)

    def _has_sequential_fold(self, binds) -> bool:
        """True when any fold op lacks a two-pass combine (def'd folds,
        '-', '/': sequential semantics, not splittable)."""
        found = False

        def scan(op, val_ast):
            nonlocal found
            if op not in _ANDL_OPS:
                found = True
            return ("fold", op, val_ast)

        for _, ast in binds:
            _map_folds(ast, scan)
        return found

    def _select_windowed_two_pass(self, df, parts, order_spec, star, keeps,
                                  binds, env):
        """Combinable running folds via operators/runfold.grouped_running
        — range-slice the (group, order) space, local prefixes per
        slice, offsets combined over the tiny per-slice partials — so
        no task ever owns a whole group, or the whole relation when
        there is no %group. Row-identical to the plain window
        (SuiteRelOrder pins it; tests/test_lang.py pins the values
        against the plain window and the plan for the absence of a
        single-partition or bare-group data window).

        Un-grouped, a monotonic id is the last order key (it also makes
        ties deterministic), and ord()/lag/lead/nth read the kernel's
        global ordinal: ord() is that ordinal 0-based, lag/lead become
        equi-joins on ordinal ± k (a shuffle on a unique long key, never
        a one-task sort) and nth a broadcast of the k-th row. ordg() is
        0: the group is the whole ordered input. Grouped, only running
        folds reach here (see _select_windowed)."""
        out_cols = self._output_heading(df, star, keeps, binds)
        okeys = [
            F.col(n).desc() if desc else F.col(n) for n, desc in order_spec
        ]
        if not parts:
            df = df.withColumn("__mono", F.monotonically_increasing_id())
            okeys.append(F.col("__mono"))
        ctx = _Ctx(self, df, env)
        folds: dict[str, tuple[str, Column]] = {}
        shift_specs: list[tuple[str, Column, int, object, int]] = []
        nth_specs: list[tuple[str, Column, int, object]] = []
        need_ord = False

        def repl_fold(op, val_ast):
            name = f"__wf{len(folds)}"
            folds[name] = (_ANDL_OPS[op], self._compile(val_ast, ctx))
            return ("_col", F.col(name))

        def repl_win(fname, args):
            nonlocal need_ord
            if fname == "ordg":
                return ("_col", F.lit(0.0))
            need_ord = True
            if fname == "ord":
                return ("_col", F.col("__gord"))
            val = self._compile(args[0], ctx)
            k = int(_as_number(self.eval(args[1], env)))
            dtype = df.select(val.alias("__t")).schema.fields[0].dataType
            default = _dtype_default(dtype)
            if fname == "nth":  # k is 0-based (SuiteRelOrder nth(A0,3))
                name = f"__wn{len(nth_specs)}"
                nth_specs.append((name, val, k, default))
            else:
                name = f"__ws{len(shift_specs)}"
                shift_specs.append(
                    (name, val, k, default, 1 if fname == "lag" else -1))
            return ("_col", F.col(name))

        out_binds = []
        for name, ast in binds:
            ast = _map_folds(ast, repl_fold)
            ast = _map_calls(ast, _WINDOW_FNS, repl_win)
            out_binds.append((name, ast))

        cur = grouped_running(df, parts, okeys, folds,
                              ordinal="__gord" if need_ord else None)
        if need_ord:
            cur = cur.withColumn("__gord", (F.col("__gord") - 1).cast("double"))
        for name, val, k, default, sign in shift_specs:
            # __h marks a matched row: a NULL value there stays NULL,
            # only a shift past either end takes the default (F.lag)
            shifted = cur.select(
                (F.col("__gord") + sign * k).alias("__gord"),
                val.alias(f"__v_{name}"), F.lit(True).alias(f"__h_{name}"))
            cur = cur.join(shifted, "__gord", "left").withColumn(
                name,
                F.when(F.col(f"__h_{name}"), F.col(f"__v_{name}"))
                .otherwise(F.lit(default)))
        for name, val, k, default in nth_specs:
            kth = (
                cur.filter(F.col("__gord") == k)
                .select(val.alias(f"__v_{name}")).limit(1))
            cur = cur.join(
                F.broadcast(kth), on=F.lit(True), how="left"
            ).withColumn(name, F.coalesce(f"__v_{name}", F.lit(default)))

        ctx_out = _Ctx(self, cur, env)
        exprs = {n: self._compile(a, ctx_out) for n, a in out_binds}
        cols = [exprs[c].alias(c) if c in exprs else F.col(c) for c in out_cols]
        return cur.select(*cols).dropDuplicates()

    def _select_windowed_1p(self, df, parts, orders, star, keeps, binds, env):
        """Plain window path for what the two-pass kernel cannot
        compute (see _select_windowed): partitioned by the %group keys
        when present; single-partition only for un-grouped sequential
        folds."""
        out_cols = self._output_heading(df, star, keeps, binds)
        # ord()/ordg() need the global input ordinal (DataRow.cs:252:
        # ord = row's position in the ordered input, 0-based; ordg = the
        # ordinal of the group's first row); grouped-only ordering
        # (`.order(%CITY)`) additionally needs it as the in-group order
        need_ord = not orders or any(
            _contains_call(a, {"ord", "ordg"}) for _, a in binds
        )
        if need_ord:
            base = (
                Window.orderBy(*orders) if orders
                else Window.orderBy("__mono")
            )
            if not orders:
                df = df.withColumn("__mono", F.monotonically_increasing_id())
            df = df.withColumn(
                "__ord", (F.row_number().over(base) - 1).cast("double")
            )
            if not orders:
                df = df.drop("__mono")
        if orders:
            w = Window.partitionBy(*parts).orderBy(*orders)
        else:
            w = Window.partitionBy(*parts).orderBy("__ord")
        frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        wgrp = Window.partitionBy(*parts)
        ctx = _Ctx(self, df, env)

        def repl_fold(op, val_ast):
            val = self._compile(val_ast, ctx)
            if op in _ANDL_OPS:
                c = RUN_OPS[_ANDL_OPS[op]][0](val, frame)
            else:
                styp = self._static_type(val_ast, ctx)
                seed, step = self._fold_seed_step(op, styp, ctx)
                c = F.aggregate(F.collect_list(val).over(frame), seed, step)
            return ("_col", c)

        def repl_win(fname, args):
            if fname == "ord":
                return ("_col", F.col("__ord"))
            if fname == "ordg":
                return ("_col", F.min("__ord").over(wgrp))
            val = self._compile(args[0], ctx)
            k = int(_as_number(self.eval(args[1], env)))
            dtype = df.select(val.alias("__t")).schema.fields[0].dataType
            default = _dtype_default(dtype)
            if fname == "lag":
                c = F.lag(val, k, default).over(w)
            elif fname == "lead":
                c = F.lead(val, k, default).over(w)
            else:  # nth — k is 0-based in Andl (SuiteRelOrder nth(A0,3) = 4th)
                c = F.coalesce(F.nth_value(val, k + 1).over(full), F.lit(default))
            return ("_col", c)

        out_binds = []
        for name, ast in binds:
            ast = _map_folds(ast, repl_fold)
            ast = _map_calls(ast, _WINDOW_FNS, repl_win)
            out_binds.append((name, ast))
        exprs = {n: self._compile(a, ctx) for n, a in out_binds}
        cols = [exprs[c].alias(c) if c in exprs else F.col(c) for c in out_cols]
        return df.select(*cols).dropDuplicates()

    # -- while ----------------------------------------------------------
    _WHILE_LOCAL_MAX_STEPS = 10_000
    _WHILE_LOCAL_MAX_ROWS = 200_000

    def _try_while_local(self, seed_ast, body_ast, env):
        """Driver-side DECIMAL fixpoint for generator whiles.

        The reference evaluates `.while()` in-memory with C# decimal
        arithmetic (Andl.Runtime/DataTableLocal.cs Recurse over
        TypedValue.cs decimals), so accumulate-and-compare programs like
        mandelbrot.andl:5-6 (`{{y:=-1.0}}.while({{y:=y+0.1}}.where(y<1.1))`)
        stop EXACTLY at the decimal boundary — twenty +0.1 steps reach
        1.0, not 1.0999999999999999. When the seed is a literal relation
        and the body is a pure scalar transform (no joins, no folds), we
        mirror that: run the fixpoint driver-side on decimal.Decimal
        values and hand Spark only the finished (tiny) generator table.
        Large/relational whiles (closures, mandelbrot's 1344-point inner
        loop) keep the distributed semi-naive Spark path — scale work
        stays in Spark; only the reference's in-memory scalar-generator
        corner runs on the driver, bounded by _WHILE_LOCAL_MAX_*.

        Returns None (caller falls back to the Spark path) unless the
        seed is a rel_tuples literal and the body walks clean."""
        if not (isinstance(seed_ast, tuple) and seed_ast[0] == "rel_tuples"):
            return None
        body = self._inline(body_ast, {})
        if not self._while_body_local_ok(body):
            return None
        try:
            rows = [
                TupV((n, self.eval(e, env)) for n, e in binds)
                for binds in seed_ast[1]
            ]
            if not rows or any(
                not isinstance(x, (bool, int, float, Decimal, str, datetime, date, bytes))
                for t in rows for x in t.values()
            ):
                return None
            cols = list(rows[0].keys())

            def key(t):
                return tuple(t[c] for c in cols)

            seen = {}
            for t in rows:
                seen.setdefault(key(t), t)
            frontier = list(seen.values())
            steps = 0
            while frontier:
                steps += 1
                if steps > self._WHILE_LOCAL_MAX_STEPS or len(seen) > self._WHILE_LOCAL_MAX_ROWS:
                    return None  # too big for the driver — Spark path
                out = []
                for t in frontier:
                    for nt in self._while_local_step(body, t, cols, env):
                        nt = TupV((c, nt[c]) for c in cols)
                        k = key(nt)
                        if k not in seen:
                            seen[k] = nt
                            out.append(nt)
                frontier = out
            return self._rel_from_tuples(list(seen.values()))
        except Exception:
            return None  # anything exotic — defer to the Spark path

    def _while_body_local_ok(self, ast) -> bool:
        """Body is local-evaluable: only where/if wrappers over literal
        tuple transforms; no dyadic joins, folds, or window functions."""

        def walk(x) -> bool:
            if isinstance(x, list):
                return all(walk(i) for i in x)
            if not isinstance(x, tuple):
                return True
            kind = x[0]
            if kind in ("dyadic", "fold", "doblock", "select", "order", "while"):
                return False
            if kind == "call" and x[1] in _WINDOW_FNS:
                return False
            return all(walk(i) for i in x[1:])

        return walk(ast)

    def _while_local_step(self, body, t, cols, env):
        """One driver-side step: mirror of step_df (the Spark body
        compiler below) over a single tuple, decimal arithmetic."""
        kind = body[0]
        if kind == "where":
            kept = []
            for nt in self._while_local_step(body[1], t, cols, env):
                child = _Chain({**nt, "__tuple__": dict(nt)}, env)
                if _truthy(self.eval(body[2], child)):
                    kept.append(nt)
            return kept
        if kind == "rel_star":
            return [TupV((c, t[c]) for c in cols)]
        if kind == "rel_tuples":
            child = _Chain({**t, "__tuple__": dict(t)}, env)
            return [
                TupV((n, self.eval(e, child)) for n, e in binds)
                for binds in body[1]
            ]
        if kind == "if":
            child = _Chain({**t, "__tuple__": dict(t)}, env)
            branch = body[2] if _truthy(self.eval(body[1], child)) else body[3]
            return self._while_local_step(branch, t, cols, env)
        raise ValueError(f"unsupported local while body {kind}")

    def _do_while(self, v: RelV, body_ast, env, seed_name=None):
        cols = v.cols()
        if body_ast[0] == "doblock":
            # non-linear recursion (sudoku.andl): the body is a whole
            # program re-evaluated against the ACCUMULATED relation,
            # which shadows the seed relvar's name each pass. Each
            # relation assigned inside the pass is eagerly checkpointed:
            # bodies reference intermediates repeatedly (sudoku's
            # allowedu feeds 4 aggregates), and without materialization
            # every reference re-runs the whole interpreted plan.
            from ..operators.whileop import fixpoint_naive

            def step(df):
                child = _Chain(
                    {seed_name: RelV(Relation(df))} if seed_name else {}, env
                )
                result = None
                for stmt in body_ast[1]:
                    if stmt[0] == "assign":
                        val = self.eval(stmt[2], child)
                        if isinstance(val, RelV):
                            val = RelV(
                                Relation(val.df.localCheckpoint(eager=True)),
                                order=val.order,
                            )
                        child[stmt[1]] = val
                    elif stmt[0] == "expr":
                        result = self.eval(stmt[1], child)
                    else:
                        self._exec(stmt, child)
                return self._coerce_rel(result).df

            return RelV(Relation(fixpoint_naive(v.df, step)))
        body = self._inline(body_ast, {})

        def colmap(branch, df):
            if branch[0] == "rel_star":
                return {c: F.col(c) for c in cols}
            if branch[0] == "rel_tuples" and len(branch[1]) == 1:
                ctx = _Ctx(self, df, env)
                return {n: self._compile(e, ctx) for n, e in branch[1][0]}
            raise ValueError("unsupported while-branch form")

        def step_df(ast, df):
            kind = ast[0]
            if kind == "where":
                inner = step_df(ast[1], df)
                ctx = _Ctx(self, inner, env)
                return inner.filter(self._compile(ast[2], ctx))
            if kind == "rel_star":
                return df.select(*cols)
            if kind == "rel_tuples":
                ctx = _Ctx(self, df, env)
                parts = [
                    df.select(*[self._compile(e, ctx).alias(n) for n, e in binds])
                    for binds in ast[1]
                ]
                out = parts[0]
                for p in parts[1:]:
                    out = out.unionByName(p)
                return out
            if kind == "dyadic":
                # {{...}} compose STATIC — the recursive-CTE join step
                # (Sample/recursive.andl org chart / MM closure). The
                # static side is evaluated once per step from env; the
                # frontier side is the transformed current tuples.
                left = step_df(ast[2], df)
                right = self.eval(ast[3], env)
                op = ast[1]
                if op == "compose":
                    return _joins.compose(left, right.df)
                if op == "join":
                    return _joins.natural_join(left, right.df)
                raise ValueError(f"unsupported while dyadic {op!r}")
            if kind == "if":
                ctx = _Ctx(self, df, env)
                cond = self._compile(ast[1], ctx)
                a, b = colmap(ast[2], df), colmap(ast[3], df)
                return df.select(
                    *[F.when(cond, a[c]).otherwise(b[c]).alias(c) for c in cols]
                )
            raise ValueError(f"unsupported while body {kind}")

        hop = self._while_hop(body, cols, env)
        return RelV(v.rel.while_(hop or (lambda df: step_df(body, df))))

    def _while_hop(self, body, cols, env):
        """A whileop.Hop for ``{{ renames of the frontier }} compose
        STATIC`` when the static side shares exactly one attribute with
        the renamed frontier and has one other attribute, named like the
        frontier attribute renamed onto the shared one: the compose is
        then exactly "join on that attribute, replace it, carry the
        rest" (the recursive-CTE reachability step). None for any other
        body, which keeps the general ``step_df`` compiler."""
        if not (body[0] == "dyadic" and body[1] == "compose"
                and body[2][0] == "rel_tuples" and len(body[2][1]) == 1):
            return None
        binds = body[2][1][0]
        if not all(e[0] == "name" and e[1] in cols for _, e in binds):
            return None
        right = self.eval(body[3], env)
        if not isinstance(right, RelV) or len(right.cols()) != 2:
            return None
        shared = [n for n, _ in binds if n in right.cols()]
        if len(shared) != 1:
            return None
        (src,) = shared
        (dst,) = [c for c in right.cols() if c != src]
        at = dict(binds)[src][1]
        carried = [(n, e[1]) for n, e in binds if n != src]
        if dst != at or any(n != c for n, c in carried) or \
                sorted([at] + [n for n, _ in carried]) != sorted(cols):
            return None
        from ..operators.whileop import Hop

        return Hop(right.df, at=at, src=src, dst=dst)

    # -- inline user functions (column contexts) -------------------------
    def _inline(self, ast, mapping, depth=0):
        if depth > 32:
            raise RecursionError("def expansion too deep")
        if not isinstance(ast, tuple):
            return ast
        kind = ast[0]
        if kind == "name":
            return mapping.get(ast[1], ast)
        if kind == "call" and ast[1] in self.defs:
            args = [self._inline(a, mapping, depth + 1) for a in ast[2]]
            fd = self._resolve_def(ast[1], len(args))
            if fd is not None:
                sub = dict(zip((p for p, _ in fd.params), args))
                body = fd.body[1] if fd.body[0] == "body" else self._do_body_expr(fd)
                return self._inline(body, sub, depth + 1)
        if kind == "fold":
            # the fold OP name is expanded lazily at fold-compile time
            return ("fold", ast[1], self._inline(ast[2], mapping, depth + 1))
        if kind == "str":
            return ast

        def walk(x):
            if isinstance(x, tuple):
                return self._inline(x, mapping, depth)
            if isinstance(x, list):
                return [walk(i) for i in x]
            return x

        return tuple(walk(x) for x in ast)

    # -- column compilation ---------------------------------------------
    def _compile(self, ast, ctx: "_Ctx") -> Column:
        if isinstance(ast, tuple) and ast[0] == "_col":
            return ast[1]
        kind = ast[0]
        if kind == "num":
            return F.lit(float(ast[1]))
        if kind == "str":
            return F.lit(ast[1])
        if kind == "bool":
            return F.lit(ast[1])
        if kind == "timelit":
            return F.lit(parse_time(ast[1]))
        if kind == "binlit":
            h = ast[1].replace(" ", "")
            return F.lit(bytearray.fromhex(h[: len(h) // 2 * 2]))
        if kind == "name":
            n = ast[1]
            if n in ctx.subst:
                return ctx.subst[n]
            if n in ctx.df.columns:
                return F.col(n)
            return _lit_value(self._lookup(n, ctx.env))
        if kind == "tup_star":  # {*}: current tuple as struct (sample3 ES1)
            return F.struct(*[F.col(c) for c in ctx.df.columns])
        if kind == "rel_star":  # {{*}}: singleton relation → 1-elem RVA array
            cols = [F.col(c) for c in ctx.df.columns]
            extra = [
                self._compile(it[2], ctx).alias(it[1])
                for it in ast[1] if it[0] == "bind"
            ]
            return F.array(F.struct(*cols, *extra))
        if kind == "rel_tuples":  # inline relation literal → RVA array
            structs = [
                F.struct(*[self._compile(e, ctx).alias(n) for n, e in binds])
                for binds in ast[1]
            ]
            return F.array_distinct(F.array(*structs))
        if kind == "neg":
            return -self._compile(ast[1], ctx)
        if kind == "not":
            return ~self._compile(ast[1], ctx)
        if kind == "if":
            return F.when(
                self._compile(ast[1], ctx), self._compile(ast[2], ctx)
            ).otherwise(self._compile(ast[3], ctx))
        if kind == "binop":
            return self._compile_binop(ast[1], ast[2], ast[3], ctx)
        if kind == "call":
            return self._compile_call(ast[1], ast[2], ctx)
        if kind == "dotname":
            recv = self._compile(ast[1], ctx)
            if ast[2] == "text":
                return _andl_text_col(recv, self._static_type(ast[1], ctx))
            if ast[2] == "number":
                return recv.cast("double")
            if ast[2] in ("count", "degree"):
                # RVA-column cardinality/degree (sample3 partition.count)
                dt = ctx.df.select(recv.alias("__t")).schema[0].dataType
                if isinstance(dt, T.ArrayType):
                    if ast[2] == "count":
                        return F.size(recv).cast("double")
                    return F.lit(float(len(dt.elementType.fields)))
            raise ValueError(f"unsupported column property {ast[2]!r}")
        if kind == "fold":
            raise ValueError("fold() outside aggregated select")
        raise ValueError(f"cannot compile {kind} to a column")

    def _compile_binop(self, op, last, rast, ctx) -> Column:
        l, r = self._compile(last, ctx), self._compile(rast, ctx)
        if op == "&":
            lt = _andl_text_col(l, self._static_type(last, ctx))
            rt = _andl_text_col(r, self._static_type(rast, ctx))
            return F.concat(lt, rt)
        if op in ("and", "or", "xor"):
            numeric = self._static_type(last, ctx) == "number"
            if numeric:
                a, b = l.cast("long"), r.cast("long")
                c = {
                    "and": a.bitwiseAND(b), "or": a.bitwiseOR(b), "xor": a.bitwiseXOR(b),
                }[op]
                return c.cast("double")
            return {"and": l & r, "or": l | r, "xor": l != r}[op]
        if op == "=":
            return l == r
        if op == "<>":
            return l != r
        if op == "=~":
            if rast[0] == "str":  # literal pattern stays a plan constant
                return l.rlike(rast[1])
            # dynamic pattern (e.g. a def parameter —
            # setup-workbench.andl suppliersbyname): column-form rlike
            return F.rlike(l, r)
        if op == "<":
            return l < r
        if op == ">":
            return l > r
        if op == "<=":
            return l <= r
        if op == ">=":
            return l >= r
        if op == "+":
            return l + r
        if op == "-":
            return l - r
        if op == "*":
            return l * r
        if op == "/":
            return l / r
        if op == "**":
            return F.pow(l, r)
        if op == "mod":
            return l % r
        if op == "div":
            # long/long division truncates toward zero like the
            # reference's Decimal.Truncate chain (Builtin.cs:693)
            return (l.cast("long").cast("double") / r.cast("long"))\
                .cast("long").cast("double")
        raise ValueError(f"unknown operator {op}")

    def _compile_call(self, name, args, ctx) -> Column:
        if name in self.defs:  # late inline (nested contexts)
            inlined = self._inline(("call", name, args), {})
            if inlined[0] != "call":
                return self._compile(inlined, ctx)
        from ..functions import scalar as S

        def c(i):
            return self._compile(args[i], ctx)

        def n(i):
            return int(_as_number(self.eval(args[i], ctx.env)))

        if name in ("left", "right"):
            c0 = c(0)
            try:
                return S.left(c0, n(1)) if name == "left" else S.right(c0, n(1))
            except (NameError, TypeError, ValueError):
                # column-valued width (mandelbrot.andl `1 + iter div 6`):
                # pad-to-width with expression-level repeat + substring
                ncol = self._compile(args[1], ctx).cast("int")
                padn = F.greatest(ncol - F.length(c0), F.lit(0))
                if name == "left":
                    return F.substring(
                        F.concat(c0, F.repeat(F.lit(" "), padn)), F.lit(1), ncol
                    )
                return F.substring(
                    F.concat(F.repeat(F.lit(" "), padn), c0), -ncol, ncol
                )
        if name == "fill":
            return S.fill(c(0), n(1))
        if name == "trim":
            return S.trim(c(0))
        if name == "length":
            return S.length(c(0)).cast("double")
        if name == "tolower":
            return S.tolower(c(0))
        if name == "toupper":
            return S.toupper(c(0))
        if name == "before":
            return S.before(c(0), self.eval(args[1], ctx.env))
        if name == "after":
            return S.after(c(0), self.eval(args[1], ctx.env))
        if name == "now":
            return S.now()
        if name == "dateymd":
            return S.dateymd(c(0), c(1), c(2))
        if name == "year":
            return S.year(c(0)).cast("double")
        if name == "month":
            return S.month(c(0)).cast("double")
        if name == "day":
            return S.day(c(0)).cast("double")
        if name == "dow":
            return S.dow(c(0)).cast("double")
        if name == "daysdiff":
            return S.daysdiff(c(0), c(1)).cast("double")
        if name == "number":
            return c(0).cast("double")
        if name == "text":
            return _andl_text_col(c(0), self._static_type(args[0], ctx))
        if name == "max":
            return F.greatest(c(0), c(1))
        if name == "min":
            return F.least(c(0), c(1))
        if name == "mod":
            return c(0) % c(1)
        raise NameError(f"unknown column function {name!r}")

    # -- static Andl type of an expression (for & coercion, bitwise) ----
    def _static_type(self, ast, ctx) -> str | None:
        if not isinstance(ast, tuple):
            return None
        kind = ast[0]
        if kind == "num":
            return "number"
        if kind == "str":
            return "text"
        if kind == "bool":
            return "bool"
        if kind == "timelit":
            return "time"
        if kind == "binlit":
            return "binary"
        if kind == "name":
            n = ast[1]
            if n in ctx.types:
                return ctx.types[n]
            if n in ctx.df.columns:
                dt = dict(
                    (f.name, f.dataType.simpleString()) for f in ctx.df.schema.fields
                )[n]
                return _ANDL_TYPE.get(dt, None)
            try:
                v = self._lookup(n, ctx.env)
            except NameError:
                return None
            if isinstance(v, bool):
                return "bool"
            if isinstance(v, (int, float, Decimal)):
                return "number"
            if isinstance(v, str):
                return "text"
            if isinstance(v, datetime):
                return "time"
            return None
        if kind == "binop":
            op = ast[1]
            if op == "&":
                return "text"
            if op in ("+", "-", "*", "/", "mod"):
                return "number"
            if op in ("and", "or", "xor"):
                return self._static_type(ast[2], ctx)
            return "bool"
        if kind in ("neg",):
            return "number"
        if kind == "not":
            return "bool"
        if kind == "if":
            return self._static_type(ast[2], ctx)
        if kind == "dotname":
            return {"text": "text", "number": "number"}.get(ast[2])
        if kind == "call":
            return {
                "left": "text", "right": "text", "fill": "text", "trim": "text",
                "tolower": "text", "toupper": "text", "before": "text", "after": "text",
                "length": "number", "year": "number", "month": "number", "day": "number",
                "dow": "number", "daysdiff": "number", "now": "time", "dateymd": "time",
                "number": "number",
            }.get(ast[1])
        if kind == "fold":
            op = ast[1]
            if op == "&":
                return "text"
            if op in ("and", "or"):
                return "bool"
            if op in self.defs:
                fd = self._resolve_def(op, 2)
                return fd.rtype if fd else "number"
            return "number"
        return None


# ---------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------


class _Chain(dict):
    """Scope chain: local dict with parent fallback. Reads walk the
    chain; writes are local except `set_existing`, which rebinds a name
    in the scope that owns it (needed by `update` on an outer-scope
    relvar — sample4.andl typedemo's addval)."""

    def __init__(self, local, parent):
        super().__init__(local)
        self.parent = parent

    def __contains__(self, k):
        return dict.__contains__(self, k) or (
            self.parent is not None and k in self.parent
        )

    def __getitem__(self, k):
        if dict.__contains__(self, k):
            return dict.__getitem__(self, k)
        if self.parent is not None:
            return self.parent[k]
        raise KeyError(k)

    def get(self, k, default=None):
        return self[k] if k in self else default

    def set_existing(self, k, v) -> bool:
        if dict.__contains__(self, k):
            dict.__setitem__(self, k, v)
            return True
        if isinstance(self.parent, _Chain):
            return self.parent.set_existing(k, v)
        if self.parent is not None and k in self.parent:
            self.parent[k] = v
            return True
        return False


class _Ctx:
    """Column-compilation context."""

    def __init__(self, session, df, env, subst=None, types=None):
        self.session = session
        self.df = df
        self.env = env
        self.subst = subst or {}
        self.types = types or {}

    def with_subst(self, subst, types):
        return _Ctx(self.session, self.df, self.env, subst, types)


def _andl_type_of(v) -> str | None:
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, (int, float, Decimal)):
        return "number"
    if isinstance(v, str):
        return "text"
    if isinstance(v, datetime):
        return "time"
    if isinstance(v, date):
        return "date"  # system subtype (Builtin.cs:1037)
    if isinstance(v, bytes):
        return "binary"
    if isinstance(v, UdtV):
        return v.typename
    if isinstance(v, TupV):
        return "tuple"
    if isinstance(v, (RelV, LocalRel, list)):
        return "relation"
    return None


def _andl_format(v) -> str:
    """Display format (TypedValue.Format): text quoted, tuples/relations
    braced, everything else its andl_text rendering."""
    if isinstance(v, str):
        return f"'{v}'"
    if isinstance(v, TupV):
        return "{" + ", ".join(f"{k}:={_andl_format(x)}" for k, x in v.items()) + "}"
    if isinstance(v, RelV):
        rows = v.df.limit(21).collect()
        return "{{" + "; ".join(
            "(" + ", ".join(andl_text(x) for x in r) + ")" for r in rows[:20]
        ) + "}}"
    return andl_text(v)


def _truthy(v) -> bool:
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, Decimal)):
        return v != 0
    raise TypeError(f"not a condition: {v!r}")


def _as_number(v) -> Decimal:
    """Andl Number is C# `decimal` (Andl.Runtime/TypedValue.cs:78, :294):
    all driver-side arithmetic runs in decimal.Decimal (28-digit context,
    banker's rounding — the same shape as .NET decimal). Doubles coming
    back from Spark collects re-enter decimal through their shortest
    round-trip repr, so `0.1` stays one-tenth across the boundary."""
    if isinstance(v, bool):
        return Decimal(1) if v else Decimal(0)
    if isinstance(v, Decimal):
        return v
    if isinstance(v, int):
        return Decimal(v)
    if isinstance(v, float):
        return Decimal(str(v))
    if isinstance(v, str):
        return Decimal(v)
    raise TypeError(f"not a number: {v!r}")


def _andl_text_scalar(v) -> str:
    return andl_text(v)


def _seed_for(rtype: str) -> Column:
    v = _TYPE_DEFAULTS.get(rtype, 0.0)
    return F.lit(v)


def _dtype_default(dtype):
    s = dtype.simpleString()
    return {"double": 0.0, "string": "", "boolean": False}.get(
        s, 0.0 if s in ("bigint", "int", "float") else None
    )


def _lit_value(v) -> Column:
    if isinstance(v, bytes):
        return F.lit(bytearray(v))
    if isinstance(v, Decimal):
        return F.lit(float(v))  # columns stay double; driver stays decimal
    if isinstance(v, (bool, int, float, str, datetime, date)):
        return F.lit(v)
    raise TypeError(f"cannot lift {type(v).__name__} into a column")


def _andl_text_col(c: Column, styp: str | None) -> Column:
    if styp == "text":
        return c
    if styp == "number":
        return F.when(
            c == F.floor(c), c.cast("bigint").cast("string")
        ).otherwise(c.cast("string"))
    if styp == "bool":
        return F.when(c, "true").otherwise("false")
    return c.cast("string")


def _to_spark_value(v):
    """Python value → (spark-compatible value, DataType). Relations
    nest as canonically-sorted array<struct> (RVA, SuiteRelNest)."""
    if isinstance(v, bool):
        return v, T.BooleanType()
    if isinstance(v, (int, float, Decimal)):
        return float(v), T.DoubleType()
    if isinstance(v, str):
        return v, T.StringType()
    if isinstance(v, datetime):
        return v, T.TimestampType()
    if isinstance(v, date):
        return v, T.DateType()
    if isinstance(v, bytes):
        return bytearray(v), T.BinaryType()
    if isinstance(v, TupV):
        fields, vals = [], []
        for k, x in v.items():
            sv, st = _to_spark_value(x)
            fields.append(T.StructField(k, st, True))
            vals.append(sv)
        return tuple(vals), T.StructType(fields)
    if isinstance(v, RelV):
        elem = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in v.df.schema.fields]
        )
        # bounded like the driver-side where/select fallbacks: nesting a
        # relation as an RVA VALUE materializes it on the driver — cap
        # it rather than silently pulling an unbounded relation local
        raw = v.df.limit(10001).collect()
        if len(raw) > 10000:
            raise ValueError("RVA embedding capped at 10k rows")
        rows = sorted((tuple(r) for r in raw), key=lambda t: tuple(map(repr, t)))
        return rows, T.ArrayType(elem)
    if isinstance(v, list):  # collected RVA: list of Row/TupV
        elems = [_to_spark_value(x if isinstance(x, TupV) else _row_to_tup(x)) for x in v]
        if not elems:
            raise TypeError("cannot type an empty bare RVA (wrap as RelV)")
        rows = sorted((r for r, _ in elems), key=lambda t: tuple(map(repr, t)))
        return rows, T.ArrayType(elems[0][1])
    raise TypeError(f"cannot embed {type(v).__name__} in a relation")


def _row_to_tup(r) -> TupV:
    """Deep pyspark Row → TupV (nested structs/arrays included)."""
    def conv(x):
        if hasattr(x, "asDict"):
            return TupV((k, conv(v)) for k, v in x.asDict().items())
        if isinstance(x, list):
            return [conv(i) for i in x]
        return x

    return TupV((k, conv(v)) for k, v in r.asDict().items())


def _norm_rows(rows) -> set:
    out = set()
    for r in rows:
        vals = tuple(r) if not isinstance(r, tuple) else r
        out.add(tuple(round(x, 9) if isinstance(x, float) else x for x in vals))
    return out


# -- AST walking -------------------------------------------------------


#: nested relation-level expressions own their OWN folds/windows — the
#: outer select must not classify or rewrite through them (100doors
#: isopen: a correlated subquery with a fold inside a plain select)
_REL_NODES = {"select", "where", "order", "while", "dyadic", "deflit"}


def _contains(ast, kind) -> bool:
    if not isinstance(ast, (tuple, list)):
        return False
    if isinstance(ast, tuple) and ast:
        if ast[0] == kind:
            return True
        if ast[0] in _REL_NODES:
            return False
    return any(_contains(x, kind) for x in ast if isinstance(x, (tuple, list)))


def _contains_call(ast, names) -> bool:
    if not isinstance(ast, (tuple, list)):
        return False
    if isinstance(ast, tuple) and ast:
        if ast[0] == "call" and ast[1] in names:
            return True
        if ast[0] in _REL_NODES:
            return False
    return any(_contains_call(x, names) for x in ast if isinstance(x, (tuple, list)))


def _collect_folds(binds):
    found = []

    def walk(ast):
        if not isinstance(ast, (tuple, list)):
            return
        if isinstance(ast, tuple) and ast:
            if ast[0] == "fold":
                found.append((ast[1], ast[2]))
            if ast[0] in _REL_NODES:
                return
        for x in ast:
            if isinstance(x, (tuple, list)):
                walk(x)

    for _, ast in binds:
        walk(ast)
    return found


def _walk_map(ast, f):
    """Map f over tuple nodes, recursing through tuple and list children."""
    def walk(x):
        if isinstance(x, tuple):
            return f(x)
        if isinstance(x, list):
            return [walk(i) for i in x]
        return x

    return tuple(walk(x) for x in ast)


def _map_folds(ast, repl):
    if not isinstance(ast, tuple):
        return ast
    if ast[0] == "fold":
        return repl(ast[1], ast[2])
    if ast[0] == "str" or ast[0] in _REL_NODES:
        return ast
    return _walk_map(ast, lambda x: _map_folds(x, repl))


def _map_calls(ast, names, repl):
    if not isinstance(ast, tuple):
        return ast
    if ast[0] == "call" and ast[1] in names:
        return repl(ast[1], ast[2])
    if ast[0] == "str" or ast[0] in _REL_NODES:
        return ast
    return _walk_map(ast, lambda x: _map_calls(x, names, repl))


# -- catalog serialization (lang manifest) -----------------------------


def _ast_to_json(x):
    """AST (nested tuples/lists of primitives) → JSON. Tuples become
    {"t": [...]} so they survive the round-trip distinct from lists;
    Decimal number literals become {"d": "1.5"} to stay exact."""
    if isinstance(x, tuple):
        return {"t": [_ast_to_json(i) for i in x]}
    if isinstance(x, list):
        return [_ast_to_json(i) for i in x]
    if isinstance(x, Decimal):
        return {"d": str(x)}
    return x


def _ast_from_json(x):
    if isinstance(x, dict):
        if "d" in x:
            return Decimal(x["d"])
        return tuple(_ast_from_json(i) for i in x["t"])
    if isinstance(x, list):
        return [_ast_from_json(i) for i in x]
    return x


def _encode_value(v) -> dict:
    if isinstance(v, bool):
        return {"k": "bool", "v": v}
    if isinstance(v, Decimal):
        return {"k": "number", "v": str(v)}  # exact decimal round-trip
    if isinstance(v, (int, float)):
        return {"k": "number", "v": float(v)}
    if isinstance(v, str):
        return {"k": "text", "v": v}
    if isinstance(v, datetime):
        return {"k": "time", "v": v.isoformat()}
    if isinstance(v, bytes):
        return {"k": "binary", "v": v.hex()}
    if isinstance(v, TupV):
        return {"k": "tuple", "v": {n: _encode_value(x) for n, x in v.items()}}
    raise TypeError(f"cannot persist {type(v).__name__} in the lang manifest")


def _decode_value(enc: dict):
    k, v = enc["k"], enc["v"]
    if k == "number":
        return Decimal(v) if isinstance(v, str) else v
    if k in ("bool", "text"):
        return v
    if k == "time":
        return datetime.fromisoformat(v)
    if k == "binary":
        return bytes.fromhex(v)
    if k == "tuple":
        return TupV((n, _decode_value(x)) for n, x in v.items())
    raise ValueError(f"unknown encoded kind {k!r}")


def _tuple_setop(op, l: TupV, r: TupV) -> TupV:
    lp, rp = set(l.items()), set(r.items())
    if op == "union":
        return TupV({**r, **l})
    if op == "intersect":
        return TupV(dict(lp & rp))
    if op == "minus":
        return TupV(dict(lp - rp))
    if op == "rminus":
        return TupV(dict(rp - lp))
    if op == "symdiff":
        return TupV(dict(lp ^ rp))
    raise ValueError(f"unsupported tuple op {op}")


# ---------------------------------------------------------------------
# module API
# ---------------------------------------------------------------------


def run_script(spark, src: str, script_dir=None) -> AndlSession:
    return AndlSession(spark, script_dir).run(src)


def run_file(spark, path: str | Path) -> AndlSession:
    return AndlSession(spark, Path(path).parent).run_path(path)
