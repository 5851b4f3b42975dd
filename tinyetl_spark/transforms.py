"""Transform compiler: TinyETL's Lua expression surface → Catalyst
Column expressions (reference src/transformer.rs:171-279; expression
grammar documented in reference README.md:461-610).

Three modes, matching the reference's TransformConfig:

* **inline** — ``"a=expr; b=expr"``: every input column preserved, each
  assignment adds/overrides a column; later expressions may reference
  earlier ones by bare name (README.md:472 ``profit=total * 0.3``).
* **script** — one assignment per line, ``--`` comments; same chaining.
* **file** — arbitrary row logic. The reference embeds Lua 5.4; the
  Spark-idiomatic escape hatch is a PYTHON file defining
  ``transform(row: dict) -> dict | None`` executed via ``mapInPandas``
  (Arrow-batched — NOT a row-at-a-time Python UDF). Parity semantics:
  only returned keys are kept (projection), ``None`` drops the row,
  output schema is inferred from the first transformed row
  (src/transformer.rs:433-461) unless ``OUTPUT_SCHEMA`` is declared.

The compiled expression subset (everything the README documents):
numbers / strings / booleans / nil, ``row.col`` and ``row['col']``
references, arithmetic ``+ - * / % ^``, comparisons ``== ~= < <= > >=``,
concatenation ``..``, ``and/or/not`` with the ternary idiom
``cond and a or b`` → ``when(cond, a).otherwise(b)``, ``string.*`` /
``math.*`` / ``tonumber`` / ``tostring`` calls, and ``s:method(...)``
sugar. Lua patterns are translated to Java regex (``%d`` → ``[0-9]``,
``-`` → ``*?``, …).

Everything compiles to built-in functions — the hot path stays in
whole-stage codegen; only transform FILES cross into Python.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

COLUMN_NAME_RE = re.compile(r"^[A-Za-z0-9_]+$")


class TransformError(ValueError):
    pass


# ----------------------------------------------------------- tokenizer

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<num>\d+\.\d*|\.\d+|\d+)
  | (?P<str>'(?:\\.|[^'\\])*'|"(?:\\.|[^"\\])*")
  | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op>\.\.|==|~=|<=|>=|[-+*/%^<>=(),:\[\]\.])
    """,
    re.VERBOSE,
)

_KEYWORDS = {"and", "or", "not", "nil", "true", "false"}


@dataclass
class Tok:
    kind: str  # num str name kw op eof
    val: str


def _tokenize(src: str) -> list[Tok]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise TransformError(f"Unexpected character {src[pos]!r} in expression: {src}")
        pos = m.end()
        if m.lastgroup == "ws":
            continue
        kind, val = m.lastgroup, m.group()
        if kind == "name" and val in _KEYWORDS:
            kind = "kw"
        out.append(Tok(kind, val))
    out.append(Tok("eof", ""))
    return out


# ----------------------------------------------------------------- AST

@dataclass
class Node:
    kind: str          # lit name rowref binop unop call method index
    cls: str           # bool str num col nil unknown
    val: object = None
    a: "Node | None" = None
    b: "Node | None" = None
    args: list | None = None


# Pratt parser with Lua precedence (Lua 5.4 §3.4.8)
_BIN_PREC = {
    "or": 1, "and": 2,
    "<": 3, ">": 3, "<=": 3, ">=": 3, "~=": 3, "==": 3,
    "..": 4,
    "+": 5, "-": 5,
    "*": 6, "/": 6, "%": 6,
    "^": 8,
}
_RIGHT_ASSOC = {"..", "^"}


class _Parser:
    def __init__(self, toks: list[Tok]):
        self.toks = toks
        self.i = 0

    def peek(self) -> Tok:
        return self.toks[self.i]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, val: str) -> None:
        t = self.next()
        if t.val != val:
            raise TransformError(f"Expected {val!r}, got {t.val!r}")

    def parse(self) -> Node:
        node = self.expr(0)
        if self.peek().kind != "eof":
            raise TransformError(f"Trailing input at {self.peek().val!r}")
        return node

    def expr(self, min_prec: int) -> Node:
        left = self.unary()
        while True:
            t = self.peek()
            op = t.val
            if (t.kind == "op" or t.kind == "kw") and op in _BIN_PREC:
                prec = _BIN_PREC[op]
                if prec < min_prec:
                    break
                self.next()
                nxt = prec if op in _RIGHT_ASSOC else prec + 1
                right = self.expr(nxt)
                cls = (
                    "bool" if op in ("or", "and", "<", ">", "<=", ">=", "~=", "==")
                    else "str" if op == ".."
                    else "num"
                )
                if op in ("or", "and"):
                    cls = "unknown"
                left = Node("binop", cls, op, left, right)
                continue
            break
        return left

    def unary(self) -> Node:
        t = self.peek()
        if t.kind == "kw" and t.val == "not":
            self.next()
            return Node("unop", "bool", "not", self.unary())
        if t.kind == "op" and t.val == "-":
            self.next()
            # unary minus binds tighter than * but looser than ^
            return Node("unop", "num", "neg", self.expr(7))
        return self.postfix()

    def postfix(self) -> Node:
        node = self.primary()
        while True:
            t = self.peek()
            if t.val == ".":
                # row.col member access OR string.upper-style namespace
                self.next()
                name = self.next()
                if name.kind != "name":
                    raise TransformError(f"Expected name after '.', got {name.val!r}")
                if node.kind == "name" and node.val == "row":
                    node = Node("rowref", "col", name.val)
                elif node.kind == "name":
                    node = Node("name", "unknown", f"{node.val}.{name.val}")
                else:
                    raise TransformError(f"Unsupported member access .{name.val}")
                continue
            if t.val == "[":
                self.next()
                key = self.next()
                self.expect("]")
                if node.kind == "name" and node.val == "row" and key.kind == "str":
                    node = Node("rowref", "col", key.val[1:-1])
                else:
                    raise TransformError("Only row['col'] indexing is supported")
                continue
            if t.val == "(":
                self.next()
                args = []
                if self.peek().val != ")":
                    args.append(self.expr(0))
                    while self.peek().val == ",":
                        self.next()
                        args.append(self.expr(0))
                self.expect(")")
                node = Node("call", "unknown", node.val if node.kind == "name" else None,
                            node, None, args)
                continue
            if t.val == ":":
                # s:method(args) → string.method(s, args)
                self.next()
                mname = self.next()
                self.expect("(")
                args = [node]
                if self.peek().val != ")":
                    args.append(self.expr(0))
                    while self.peek().val == ",":
                        self.next()
                        args.append(self.expr(0))
                self.expect(")")
                node = Node("call", "unknown", f"string.{mname.val}", None, None, args)
                continue
            break
        return node

    def primary(self) -> Node:
        t = self.next()
        if t.kind == "num":
            return Node("lit", "num", int(t.val) if "." not in t.val else float(t.val))
        if t.kind == "str":
            body = t.val[1:-1]
            body = body.replace("\\'", "'").replace('\\"', '"').replace("\\n", "\n").replace("\\t", "\t").replace("\\\\", "\\")
            return Node("lit", "str", body)
        if t.kind == "kw":
            if t.val == "nil":
                return Node("lit", "nil", None)
            if t.val in ("true", "false"):
                return Node("lit", "bool", t.val == "true")
            raise TransformError(f"Unexpected keyword {t.val!r}")
        if t.kind == "name":
            return Node("name", "unknown", t.val)
        if t.val == "(":
            node = self.expr(0)
            self.expect(")")
            return node
        raise TransformError(f"Unexpected token {t.val!r}")


# ------------------------------------------- Lua pattern → Java regex

_CLASS_MAP = {
    "a": "[a-zA-Z]", "A": "[^a-zA-Z]",
    "d": "[0-9]", "D": "[^0-9]",
    "l": "[a-z]", "L": "[^a-z]",
    "u": "[A-Z]", "U": "[^A-Z]",
    "s": "\\s", "S": "\\S",
    "w": "[a-zA-Z0-9]", "W": "[^a-zA-Z0-9]",
    "x": "[0-9a-fA-F]", "X": "[^0-9a-fA-F]",
    "p": "\\p{Punct}", "P": "\\P{Punct}",
    "c": "\\p{Cntrl}", "C": "\\P{Cntrl}",
}
_CLASS_MAP_IN_SET = {
    "a": "a-zA-Z", "d": "0-9", "l": "a-z", "u": "A-Z",
    "s": "\\s", "w": "a-zA-Z0-9", "x": "0-9a-fA-F", "p": "\\p{Punct}",
}
# special in Java regex but literal in Lua patterns
_JAVA_SPECIALS = set("{}|\\&<>!")


def lua_pattern_to_regex(pat: str) -> str:
    """Translate a Lua 5.4 pattern to a Java regex (reference transforms
    use Lua patterns — README.md:571 'Pattern matching'; this is the
    compatibility shim SURVEY.md §7.3 calls out)."""
    out, i, n = [], 0, len(pat)
    in_set = False
    while i < n:
        ch = pat[i]
        if ch == "%":
            if i + 1 >= n:
                raise TransformError(f"Dangling %% in Lua pattern: {pat}")
            nxt = pat[i + 1]
            if in_set:
                out.append(_CLASS_MAP_IN_SET.get(nxt, re.escape(nxt)))
            elif nxt in _CLASS_MAP:
                out.append(_CLASS_MAP[nxt])
            else:
                out.append(re.escape(nxt))  # %. %% %( … → literal
            i += 2
            continue
        if in_set:
            if ch == "]":
                in_set = False
            out.append(ch)
            i += 1
            continue
        if ch == "[":
            in_set = True
            out.append("[")
            if i + 1 < n and pat[i + 1] == "^":
                out.append("^")
                i += 1
            i += 1
            continue
        if ch == "-":
            out.append("*?")  # Lua lazy quantifier
            i += 1
            continue
        if ch in _JAVA_SPECIALS:
            out.append("\\" + ch)
            i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _regex_group_count(regex: str) -> int:
    return re.compile(regex).groups


# ------------------------------------------------------------ compiler

def _truthy(col: Column, cls: str) -> Column:
    """Lua truthiness: nil and false are falsy, EVERYTHING else (0, '')
    is truthy."""
    if cls == "bool":
        return col & col.isNotNull()
    return col.isNotNull()


def _lit_str(node: Node) -> str:
    if node.kind != "lit" or node.cls != "str":
        raise TransformError("Expected a string literal (Lua pattern) here")
    return str(node.val)


# RFC3339 string form dates take INSIDE transforms — the reference
# marshals every Date value into Lua as a string
# (src/transformer.rs:360-430, README.md:504-509 "dates come as RFC3339
# strings"), so string ops on date columns must see this form. chrono's
# to_rfc3339 prints "+00:00" (not "Z") and variable sub-second width;
# we emit fixed microseconds — the string-op observable behavior
# (prefix matches, substrings, ordering) is identical.
LUA_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSxxx"

_NUMERIC_DTYPES = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}


class _Compiler:
    """env maps bare names (earlier assignments) to Columns. dtypes maps
    input columns to their Spark type strings (for the dates-as-strings
    marshalling rule)."""

    def __init__(
        self,
        input_cols: list[str],
        env: dict[str, Column],
        dtypes: dict[str, str] | None = None,
        env_cls: dict[str, str] | None = None,
    ):
        self.input_cols = input_cols
        self.env = env
        self.dtypes = dtypes or {}
        self.env_cls = env_cls or {}

    def compile(self, node: Node) -> Column:
        col, _ = self._c(node)
        return col

    def compile_with_cls(self, node: Node) -> tuple[Column, str]:
        return self._c(node)

    def _cls_of(self, name: str) -> str:
        dt = self.dtypes.get(name, "")
        if dt.startswith(("timestamp", "date")):
            return "ts"
        # Lua truthiness: a BOOLEAN input column referenced as row.flag
        # must be falsy when false, not merely when null.
        if dt == "boolean":
            return "bool"
        if dt == "string":
            return "str"
        return "col"

    def _cmpcls(self, node: Node, cls: str) -> str:
        """An operand's class for a comparison: an input column of a
        numeric type is a number there, as its value is in Lua."""
        if node.kind == "rowref" or (node.kind == "name" and node.val not in self.env):
            if self.dtypes.get(str(node.val), "").split("(")[0] in _NUMERIC_DTYPES:
                return "num"
        return cls

    def _strctx(self, col: Column, cls: str) -> Column:
        """A value entering a STRING context: timestamps become their
        in-transform RFC3339 string form, everything else casts."""
        if cls == "ts":
            return F.date_format(col, LUA_TS_FMT)
        return col.cast("string")

    @staticmethod
    def _numctx(col: Column, cls: str) -> Column:
        """A value entering arithmetic: text converts like Lua's string
        coercion (NULL where it is not a number). ANSI mode's implicit
        cast would take ``'6200.5' * 12`` to bigint and fail the job."""
        return col.try_cast("double") if cls == "str" else col

    def _c(self, node: Node) -> tuple[Column, str]:
        if node.kind == "lit":
            if node.cls == "nil":
                return F.lit(None), "nil"
            return F.lit(node.val), node.cls
        if node.kind == "rowref":
            if node.val not in self.input_cols:
                raise TransformError(f"Unknown column row.{node.val}")
            return F.col(node.val), self._cls_of(str(node.val))
        if node.kind == "name":
            name = str(node.val)
            if name in self.env:
                return self.env[name], self.env_cls.get(name, "col")
            if name in self.input_cols:
                return F.col(name), self._cls_of(name)
            raise TransformError(
                f"Unknown name {name!r} (not an earlier assignment or input column; "
                f"use row.{name} for column references)"
            )
        if node.kind == "unop":
            a, acls = self._c(node.a)
            if node.val == "not":
                return ~_truthy(a, acls), "bool"
            return -a, "num"
        if node.kind == "binop":
            return self._binop(node)
        if node.kind == "call":
            return self._call(node)
        raise TransformError(f"Cannot compile node {node.kind}")

    def _binop(self, node: Node) -> tuple[Column, str]:
        op = node.val
        if op == "and" or op == "or":
            return self._logic(node)
        a, acls = self._c(node.a)
        b, bcls = self._c(node.b)
        if op == "..":
            return F.concat(self._strctx(a, acls), self._strctx(b, bcls)), "str"
        if {self._cmpcls(node.a, acls), self._cmpcls(node.b, bcls)} == {"str", "num"}:
            # Lua never equates a string and a number, and refuses to
            # order them; ANSI mode would cast the text and fail the job
            if op == "==":
                return F.lit(False), "bool"
            if op == "~=":
                return F.lit(True), "bool"
            if op in ("<", "<=", ">", ">="):
                raise TransformError("attempt to compare string with number")
        if op == "==":
            return a == b, "bool"
        if op == "~=":
            return a != b, "bool"
        if op in ("<", "<=", ">", ">="):
            return {"<": a < b, "<=": a <= b, ">": a > b, ">=": a >= b}[op], "bool"
        a, b = self._numctx(a, acls), self._numctx(b, bcls)
        if op == "+":
            return a + b, "num"
        if op == "-":
            return a - b, "num"
        if op == "*":
            return a * b, "num"
        if op == "/":
            return a / b, "num"
        if op == "%":
            return F.pmod(a, b), "num"  # Lua % is floor-mod
        if op == "^":
            return F.pow(a, b), "num"
        raise TransformError(f"Unsupported operator {op}")

    def _logic(self, node: Node) -> tuple[Column, str]:
        """Lua and/or. The ternary idiom ``A and B or C`` (left side is
        an ``and``) compiles to when(truthy(A), B).otherwise(C) — exact
        when B is never falsy, which is the documented Lua caveat too.
        Chained ``cond1 and v1 or cond2 and v2 or v3`` nests naturally
        through recursion. Plain and/or fall back to value-returning
        Lua semantics when both sides type-align, else boolean."""
        op = node.val
        if op == "or" and node.a.kind == "binop" and node.a.val == "and":
            cond, ccls = self._c(node.a.a)
            then, tcls = self._c(node.a.b)
            other, ocls = self._c(node.b)
            return F.when(_truthy(cond, ccls), then).otherwise(other), (
                tcls if tcls == ocls else "unknown"
            )
        a, acls = self._c(node.a)
        b, bcls = self._c(node.b)
        ta = _truthy(a, acls)
        if op == "and":
            if acls == "bool" and bcls == "bool":
                return ta & _truthy(b, bcls), "bool"
            # value semantics: truthy(a) → b else a (nil/false propagate)
            fallback = a if acls in (bcls, "col", "unknown", "nil") else F.lit(None)
            return F.when(ta, b).otherwise(fallback), bcls
        # or
        if acls == "bool" and bcls == "bool":
            return ta | _truthy(b, bcls), "bool"
        fallback = b if bcls in (acls, "col", "unknown", "nil") else F.lit(None)
        return F.when(ta, a).otherwise(fallback), acls

    def _call(self, node: Node) -> tuple[Column, str]:
        fname = node.val if isinstance(node.val, str) else None
        args = node.args or []

        def arg(i: int) -> Column:
            return self._c(args[i])[0]

        def sarg(i: int) -> Column:
            # string-context argument: applies dates-as-strings marshalling
            col, cls = self._c(args[i])
            return self._strctx(col, cls) if cls == "ts" else col

        if fname == "tonumber":
            return arg(0).cast("double"), "num"
        if fname == "tostring":
            col, cls = self._c(args[0])
            return self._strctx(col, cls), "str"
        if fname == "string.upper":
            return F.upper(sarg(0)), "str"
        if fname == "string.lower":
            return F.lower(sarg(0)), "str"
        if fname == "string.len":
            return F.length(sarg(0)), "num"
        if fname == "string.reverse":
            return F.reverse(sarg(0)), "str"
        if fname == "string.rep":
            return F.repeat(sarg(0), self._int_lit(args[1])), "str"
        if fname == "string.sub":
            return self._string_sub(args), "str"
        if fname == "string.gsub":
            regex = lua_pattern_to_regex(_lit_str(args[1]))
            repl = _lit_str(args[2]).replace("%0", "$0")
            repl = re.sub(r"%(\d)", r"$\1", repl)
            return F.regexp_replace(sarg(0), regex, repl), "str"
        if fname == "string.match":
            regex = lua_pattern_to_regex(_lit_str(args[1]))
            group = 1 if _regex_group_count(regex) >= 1 else 0
            s = sarg(0)
            return (
                F.when(s.rlike(regex), F.regexp_extract(s, regex, group)),
                "str",
            )
        if fname == "string.find":
            # supported in its boolean-ish idiom: nil when not found,
            # match position when found. Plain-text find via locate;
            # pattern find via rlike + instr-of-extract.
            s = sarg(0)
            if len(args) >= 4 and args[3].kind == "lit" and args[3].val is True:
                pos = F.locate(_lit_str(args[1]), s)
                return F.when(pos > 0, pos), "num"
            regex = lua_pattern_to_regex(_lit_str(args[1]))
            first = F.regexp_extract(s, regex, 0)
            pos = F.locate(first, s)
            return F.when(s.rlike(regex), pos), "num"
        if fname == "math.floor":
            return F.floor(arg(0)), "num"
        if fname == "math.ceil":
            return F.ceil(arg(0)), "num"
        if fname == "math.abs":
            return F.abs(arg(0)), "num"
        if fname == "math.sqrt":
            return F.sqrt(arg(0)), "num"
        if fname == "math.max":
            return F.greatest(*[self._c(a)[0] for a in args]), "num"
        if fname == "math.min":
            return F.least(*[self._c(a)[0] for a in args]), "num"
        raise TransformError(f"Unsupported function {fname!r}")

    def _int_lit(self, node: Node) -> int:
        if node.kind == "lit" and isinstance(node.val, int):
            return node.val
        raise TransformError("Expected an integer literal argument")

    def _string_sub(self, args: list[Node]) -> Column:
        """Lua string.sub: 1-based inclusive, negative indexes from the
        end."""
        s0, s0cls = self._c(args[0])
        s = self._strctx(s0, s0cls) if s0cls == "ts" else s0
        i_node = args[1]
        j_node = args[2] if len(args) > 2 else None
        if i_node.kind == "lit" and (j_node is None or j_node.kind == "lit"):
            i = int(i_node.val)
            if j_node is None:
                return F.substring(s, i, 1 << 30) if i > 0 else s.substr(
                    F.length(s) + 1 + i, F.lit(1 << 30)
                )
            j = int(j_node.val)
            if i > 0 and j > 0:
                return F.substring(s, i, max(0, j - i + 1))
            # negative index arithmetic via length()
            start = F.lit(i) if i > 0 else F.length(s) + 1 + i
            end = F.lit(j) if j > 0 else F.length(s) + 1 + j
            return s.substr(start, F.greatest(end - start + 1, F.lit(0)))
        start_c = self._c(i_node)[0]
        end_c = self._c(j_node)[0] if j_node is not None else F.length(s)
        return s.substr(start_c, F.greatest(end_c - start_c + 1, F.lit(0)))


# ------------------------------------------------------------- drivers

def parse_expression(src: str) -> Node:
    return _Parser(_tokenize(src)).parse()


def compile_expression(
    src: str, input_cols: list[str], env: dict[str, Column] | None = None
) -> Column:
    return _Compiler(input_cols, env or {}).compile(parse_expression(src))


def _split_assignments(text: str, sep: str) -> list[tuple[str, str]]:
    """Split on sep outside string literals; each part is name=expr."""
    parts, buf, quote = [], [], None
    for ch in text:
        if quote:
            buf.append(ch)
            if ch == quote and (len(buf) < 2 or buf[-2] != "\\"):
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            buf.append(ch)
            continue
        if ch == sep:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    parts.append("".join(buf))
    out = []
    for part in parts:
        part = part.strip()
        if not part or part.startswith("--"):
            continue
        if "=" not in part:
            raise TransformError(f"Invalid expression format (missing '='): {part}")
        name, expr = part.split("=", 1)
        name = name.strip()
        if not COLUMN_NAME_RE.match(name):
            raise TransformError(f"Invalid column name: {name}")
        out.append((name, expr.strip()))
    return out


def apply_inline(df: DataFrame, expressions: str) -> DataFrame:
    """``--transform "a=expr; b=expr"`` — all input columns preserved,
    assignments applied in order, later ones see earlier ones."""
    assignments = _split_assignments(expressions, ";")
    if not assignments:
        raise TransformError("No valid expressions provided")
    env: dict[str, Column] = {}
    env_cls: dict[str, str] = {}
    dtypes = dict(df.dtypes)  # for the dates-as-strings marshalling rule
    out = df
    for name, expr_src in assignments:
        col, cls = _Compiler(df.columns, env, dtypes, env_cls).compile_with_cls(
            parse_expression(expr_src)
        )
        out = out.withColumn(name, col)
        env[name] = F.col(name)
        # carry truthiness class forward so `y = flag and a or b` sees a
        # boolean-classed `flag` from an earlier assignment, like Lua
        env_cls[name] = cls if cls in ("bool", "ts") else "col"
    return out


def apply_script(df: DataFrame, script: str) -> DataFrame:
    """Script mode: one assignment per line, ``--`` comments skipped,
    later lines reference earlier ones (src/transformer.rs:224-279)."""
    lines = [ln.strip() for ln in script.splitlines()]
    text = ";".join(ln for ln in lines if ln and not ln.startswith("--"))
    return apply_inline(df, text)


# ------------------------------------------------- file escape hatch

def compile_lua_file(df: DataFrame, path: str) -> DataFrame:
    """Transform-file escape hatch.

    The reference runs a Lua 5.4 ``transform(row)`` per row in-process
    (src/transformer.rs:320-357). The Spark-idiomatic equivalent is a
    Python file defining ``transform(row: dict) -> dict | None`` (and
    optionally ``OUTPUT_SCHEMA`` as a DDL string), executed through
    ``mapInPandas`` in Arrow batches. Parity semantics preserved:
    returned keys project the output, ``None``/empty drops the row,
    and without OUTPUT_SCHEMA the schema comes from the first
    transformed sample row (first-row-wins, src/transformer.rs:433-461).
    """
    import importlib.util

    spec = importlib.util.spec_from_file_location("tinyetl_user_transform", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    if not hasattr(mod, "transform"):
        raise TransformError(f"{path} must define transform(row)")
    fn = mod.transform

    if hasattr(mod, "OUTPUT_SCHEMA"):
        schema_ddl = mod.OUTPUT_SCHEMA
    else:
        sample = [r.asDict() for r in df.limit(10).collect()]
        first_out = None
        for row in sample:
            first_out = fn(dict(row))
            if first_out:
                break
        if not first_out:
            raise TransformError(
                "Cannot infer transform output schema: transform returned no rows "
                "for the first 10 sample rows; declare OUTPUT_SCHEMA"
            )
        schema_ddl = ", ".join(
            f"{k} {_py_to_ddl(v)}" for k, v in first_out.items()
        )

    out_cols: list[str] | None = None

    def _runner(iterator):
        import pandas as pd

        for pdf in iterator:
            outs = []
            for row in pdf.to_dict("records"):
                res = fn(row)
                if res:  # None or {} → row dropped
                    outs.append(res)
            yield pd.DataFrame(outs, columns=out_cols) if outs else pd.DataFrame(
                columns=out_cols
            )

    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(schema_ddl)
    out_cols = [f.name for f in schema.fields]
    return df.mapInPandas(_runner, schema=schema)


def _py_to_ddl(v) -> str:
    import datetime as dt

    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "bigint"
    if isinstance(v, float):
        return "double"
    if isinstance(v, dt.datetime):
        return "timestamp"
    return "string"
