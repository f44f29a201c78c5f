"""Rhai-script → Spark Column translator (SURVEY §2.9).

The reference's only UDF mechanism is Rhai scripts in two places: the `where`
filter (/root/reference/src/main.rs:1952-1971) and `score value` blocks
(main.rs:2162-2175), both evaluated per post against the fixed scope of
`create_rhai_scope_for_post` (main.rs:2596-2624):

    likeCount, replyCount, repostCount, quoteCount, imageCount : int
    lang     : first element of langs ("" if empty)
    tsMillis : created_at epoch millis
    ageSeconds : now - created_at, whole seconds
    score    : accumulated global score (float; `where` only)

Two-tier design:

1. **SQL tier (default, fast path)**: scripts parse to a small AST and emit a
   Catalyst SQL expression — JVM-side, whole-stage codegen. Covers
   arithmetic/boolean expressions PLUS `let` bindings (inlined) and
   `if cond { .. } else { .. }` expressions (emitted as CASE WHEN).
2. **Sandboxed UDF tier (opt-in slow path, ``allow_udf=True``)**: scripts
   using imperative Rhai the SQL tier can't express — variable reassignment,
   `while` loops, early `return`, statement-position `if` — run in a
   restricted interpreter over the SAME fixed scope, wrapped in an
   Arrow-batched pandas UDF. It is a closed interpreter over the parsed AST
   (no eval/exec, no attribute access, no names beyond the scope), so the
   sandbox boundary is the grammar itself. Opt-in because a Python UDF breaks
   codegen and is the documented 10-100× slow path.

Anything outside the grammar of BOTH tiers raises ``ScriptTranslationError``
with a position, rather than producing wrong SQL.

Numeric semantics match Rhai (main.rs:2602-2621 pushes the counts as i64):
`/` and `%` on two INTEGER operands are Rust-truncated integer division /
remainder (sign of the dividend) — `likeCount / 2` with likeCount=5 is 2 —
in BOTH tiers (the SQL tier type-infers the AST and emits `DIV` for int÷int;
Spark's `%` on bigints already truncates like Rust). Mixed or float operands
use f64 arithmetic. Error semantics: the reference `unwrap()`s the eval
result (main.rs:1965, 2174) — the interpreter tier likewise RAISES on
integer division/modulo by zero and on a non-bool result in a boolean
(`where`) context, instead of null-masking rows. Comparisons match Rhai
1.x on BOTH tiers: a CROSS-type pair with no registered comparison
(string vs number, bool vs number, unit vs anything else — builtin.rs's
default fallback is gated on type1 != type2) makes `==` false, `!=` true
and `<`/`<=`/`>`/`>=` false, never an error (r14, ADVICE r13); a
SAME-type pair with no registered ordering (`true < false`, `() < ()`)
misses that gate and is a RUNTIME ErrorFunctionNotFound the reference
unwrap()s into a query failure (r15, ADVICE r14) — int/float compare
numerically, strings byte-lexicographic like Rust, bool and unit have
`==`/`!=` only.

String `+` is NOT an ill-typed shape: rhai::Engine::new() includes the
standard MoreStringPackage, which registers `+` between a string and
any standard type (add_append/add_prepend) — `lang + 1` is "en1",
`1 + lang` is "1en", unit appends nothing (r16, ADVICE r15: both tiers
previously mis-asserted this errors). The SQL tier emits concat+cast
for int/bool operands (display-identical); a float or unknown-typed
operand routes to the interpreter tier, whose _rhai_str/_rhai_float_str
reproduce Rhai's Display ("true", FloatWrapper notation).

Ill-typed operand shapes — arithmetic OTHER than string `+` on a
string/bool/unit operand, a non-bool operand in a boolean context
(`&&`/`||`/`!`, `if`/`while` conditions — Rhai has no truthiness),
bool/unit ordering — are RUNTIME errors in Rhai, which means
short-circuit can make them dynamically dead: `false && (lang && true)`
runs fine in the reference. The SQL tier therefore routes every
statically-detected shape of this class to the interpreter tier via
_NeedsUdf (r15, ADVICE r14 — it previously hard-failed translation,
rejecting scripts the reference accepts); the interpreter preserves
short-circuit and raises exactly when the ill-typed operand evaluates.
With ``allow_udf=False`` such scripts still fail fast at translation
with the needs-udf-tier message.

Known divergences, accepted:
the SQL tier yields NULL (row dropped / score null) where Rhai would
error the whole query (int div-by-zero); the score context coerces int
results to double where strict Rhai `eval::<f64>` would error on an
INT; and when a cross-type comparison folds to its Rhai default
literal, the SQL tier DISCARDS the operand subexpressions, so a
VALUE-dependent runtime error inside a discarded operand (int
div/mod-by-zero, i64 overflow — `(1/0) == "x"`) is silently skipped
where the interpreter/reference evaluates the operands first and
errors (ADVICE r14 low; static type errors inside operands are NOT
affected — they raise _NeedsUdf before the fold). All three are
value-level corners of the documented div-by-zero/overflow class.
"""

from __future__ import annotations

import decimal
import math
import re
import struct
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import Column, functions as F

from query_engine_spark.operators.sql import sql_literal

__all__ = [
    "ScriptTranslationError",
    "ScriptRuntimeError",
    "translate_script",
    "translate_script_with_tier",
    "RHAI_SCOPE_COLUMNS",
]


class ScriptTranslationError(ValueError):
    pass


class ScriptRuntimeError(RuntimeError):
    """Interpreter-tier evaluation failure — mirrors the reference's
    `.unwrap()` panic on a script runtime error (main.rs:1965, 2174)."""


class _NeedsUdf(Exception):
    """Internal: the AST uses imperative features the SQL tier can't emit."""


# scope name → SQL expression over the posts schema (datamodel.POST_SCHEMA).
# `now` placeholders are substituted by the caller for determinism.
RHAI_SCOPE_COLUMNS: dict[str, str] = {
    "likeCount": "like_count",
    "replyCount": "reply_count",
    "repostCount": "repost_count",
    "quoteCount": "quote_count",
    "imageCount": "image_count",
    # try_element_at, not element_at: under Spark 4's default ANSI mode
    # element_at THROWS on an empty array, so a single empty-langs post
    # would crash every lang-referencing script query instead of seeing
    # the documented '' (r13 tier-differential find — the reference
    # scope pushes "" when langs is empty, main.rs:2596-2624)
    "lang": "coalesce(try_element_at(langs, 1), '')",
    "tsMillis": "unix_millis(ts)",
    "ageSeconds": "(__now_epoch__ - unix_seconds(ts))",
    "score": "score",
}

_TOKEN_RE = re.compile(
    r"""
    \s+
  | //[^\n]*
  | (?P<num>\d+\.\d+|\d+)
  | (?P<str>"(?:[^"\\]|\\.)*")
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op>&&|\|\||==|!=|<=|>=|[-+*/%<>!(){};=])
    """,
    re.VERBOSE,
)

_KEYWORDS = {"true", "false", "let", "if", "else", "while", "return"}


@dataclass
class _Tok:
    kind: str  # num | str | ident | op | kw
    text: str
    pos: int


def _tokenize(script: str) -> list[_Tok]:
    toks: list[_Tok] = []
    pos = 0
    for m in _TOKEN_RE.finditer(script):
        if m.start() != pos:
            raise ScriptTranslationError(f"unexpected character at {pos}: {script[pos:pos+10]!r}")
        pos = m.end()
        if m.group(0).isspace() or m.group(0).startswith("//"):
            continue
        if m.group("num"):
            toks.append(_Tok("num", m.group("num"), m.start()))
        elif m.group("str"):
            toks.append(_Tok("str", m.group("str"), m.start()))
        elif m.group("ident"):
            t = m.group("ident")
            toks.append(_Tok("kw" if t in _KEYWORDS else "ident", t, m.start()))
        else:
            toks.append(_Tok("op", m.group("op"), m.start()))
    if pos != len(script):
        raise ScriptTranslationError(f"unexpected trailing input: {script[pos:]!r}")
    return toks


# ---------------------------------------------------------------------------
# Parser → AST. Nodes are plain tuples:
#   ("num", float|int) ("str", s) ("bool", b) ("var", name)
#   ("un", op, x) ("bin", op, a, b)
#   ("if", cond, then_block, else_block|None)
#   ("let", name, expr) ("assign", name, expr) ("return", expr) ("while", c, b)
#   ("block", [stmts], final_expr|None)


class _Parser:
    # real feed scripts nest a handful of levels; without caps a
    # crafted '((((…' / 'if x { if x { …' script blows the recursive
    # descent into RecursionError instead of the ScriptTranslationError
    # contract (r12 review find, the recursion member of the
    # resource-bomb class — scripts are author-supplied config, still
    # untrusted). 64 nesting levels × ≤8 parser frames each stays far
    # inside CPython's default 1000-frame stack; the token cap in
    # _parse bounds the TRANSLATOR's recursion too (a '1+1+1+…' chain
    # parses ITERATIVELY but builds a left-deep AST the translator
    # walks recursively — chain depth ≤ tokens/2).
    MAX_DEPTH = 64

    def __init__(self, toks: list[_Tok]):
        self.toks = toks
        self.i = 0
        self.depth = 0

    def _descend(self) -> None:
        self.depth += 1
        if self.depth > self.MAX_DEPTH:
            raise ScriptTranslationError(
                f"script nesting exceeds the {self.MAX_DEPTH}-level cap"
            )

    def peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> _Tok:
        t = self.peek()
        if t is None:
            raise ScriptTranslationError("unexpected end of script")
        self.i += 1
        return t

    def eat_op(self, op: str) -> None:
        t = self.next()
        if t.kind != "op" or t.text != op:
            raise ScriptTranslationError(f"expected {op!r} at {t.pos} (got {t.text!r})")

    def at_op(self, *ops: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == "op" and t.text in ops

    def at_kw(self, kw: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == "kw" and t.text == kw

    # block := stmt* expr?   (Rhai: value of a block is its final expression)
    def block(self, *, until_brace: bool) -> tuple:
        stmts: list[tuple] = []
        final = None
        while True:
            t = self.peek()
            if t is None:
                break
            if until_brace and t.kind == "op" and t.text == "}":
                break
            node, is_stmt = self.statement()
            if self.at_op(";"):
                self.eat_op(";")
                stmts.append(node)
                continue
            nxt = self.peek()
            at_end = nxt is None or (until_brace and nxt.kind == "op" and nxt.text == "}")
            if at_end:
                if is_stmt:
                    stmts.append(node)
                else:
                    final = node
                break
            # statement-position if/while without a semicolon
            if is_stmt or node[0] in ("if", "while"):
                stmts.append(node)
                continue
            raise ScriptTranslationError(f"expected ';' or end of block near token {self.i}")
        return ("block", stmts, final)

    def statement(self) -> tuple[tuple, bool]:
        if self.at_kw("let"):
            self.next()
            name = self.next()
            if name.kind != "ident":
                raise ScriptTranslationError(f"expected identifier after let at {name.pos}")
            self.eat_op("=")
            return ("let", name.text, self.expr()), True
        if self.at_kw("return"):
            self.next()
            return ("return", self.expr()), True
        if self.at_kw("while"):
            self.next()
            cond = self.expr()
            self.eat_op("{")
            # descend around the body parse so while-in-while nesting is
            # bounded by MAX_DEPTH like if/paren/unary — without this the
            # path was only indirectly bounded by the token cap, and the
            # guard would silently stop protecting it if that cap ever
            # rose (ADVICE r12)
            self._descend()
            body = self.block(until_brace=True)
            self.depth -= 1
            self.eat_op("}")
            return ("while", cond, body), True
        # assignment: ident '=' (but not '==')
        t = self.peek()
        if (
            t is not None
            and t.kind == "ident"
            and self.i + 1 < len(self.toks)
            and self.toks[self.i + 1].kind == "op"
            and self.toks[self.i + 1].text == "="
        ):
            self.next()
            self.eat_op("=")
            return ("assign", t.text, self.expr()), True
        return self.expr(), False

    def expr(self) -> tuple:
        if self.at_kw("if"):
            return self.if_expr()
        return self.or_expr()

    def if_expr(self) -> tuple:
        self._descend()
        self.next()  # if
        cond = self.or_expr()
        self.eat_op("{")
        then = self.block(until_brace=True)
        self.eat_op("}")
        els = None
        if self.at_kw("else"):
            self.next()
            if self.at_kw("if"):
                els = ("block", [], self.if_expr())
            else:
                self.eat_op("{")
                els = self.block(until_brace=True)
                self.eat_op("}")
        self.depth -= 1
        return ("if", cond, then, els)

    def or_expr(self) -> tuple:
        node = self.and_expr()
        while self.at_op("||"):
            self.next()
            node = ("bin", "||", node, self.and_expr())
        return node

    def and_expr(self) -> tuple:
        node = self.cmp()
        while self.at_op("&&"):
            self.next()
            node = ("bin", "&&", node, self.cmp())
        return node

    def cmp(self) -> tuple:
        node = self.add()
        if self.at_op("==", "!=", "<", "<=", ">", ">="):
            op = self.next().text
            node = ("bin", op, node, self.add())
        return node

    def add(self) -> tuple:
        node = self.mul()
        while self.at_op("+", "-"):
            op = self.next().text
            node = ("bin", op, node, self.mul())
        return node

    def mul(self) -> tuple:
        node = self.unary()
        while self.at_op("*", "/", "%"):
            op = self.next().text
            node = ("bin", op, node, self.unary())
        return node

    def unary(self) -> tuple:
        if self.at_op("!", "-"):
            op = self.next().text
            self._descend()
            node = ("un", op, self.unary())
            self.depth -= 1
            return node
        return self.primary()

    def primary(self) -> tuple:
        t = self.next()
        if t.kind == "num":
            if "." in t.text:
                return ("num", float(t.text))
            v = int(t.text)
            # Rhai integers are i64: an over-range literal is a parse
            # error there, and the SQL tier would otherwise emit an
            # invalid bigint literal while the interpreter silently
            # carried a Python bigint (r13 self-review corner)
            if v > 2**63 - 1:
                raise ScriptTranslationError(
                    f"integer literal out of i64 range at {t.pos}"
                )
            return ("num", v)
        if t.kind == "str":
            body = t.text[1:-1].replace('\\"', '"').replace("\\\\", "\\")
            return ("str", body)
        if t.kind == "kw" and t.text in ("true", "false"):
            return ("bool", t.text == "true")
        if t.kind == "kw" and t.text == "if":
            self.i -= 1
            return self.if_expr()
        if t.kind == "ident":
            return ("var", t.text)
        if t.kind == "op" and t.text == "(":
            self._descend()
            node = self.expr()
            self.depth -= 1
            self.eat_op(")")
            return node
        raise ScriptTranslationError(f"unexpected token {t.text!r} at {t.pos}")


def _parse(script: str) -> tuple:
    toks = _tokenize(script)
    # token cap (r12): bounds the TRANSLATOR's recursion as well as the
    # parser's — a '1+1+1+…' chain parses iteratively but builds a
    # left-deep AST that _block_to_sql/_eval walk recursively (chain
    # depth ≈ tokens/2, so 1000 tokens keeps every walker under ~500
    # frames). Real feed scripts are tens of tokens; this is a capacity
    # line, not a grammar change.
    if len(toks) > 1000:
        raise ScriptTranslationError(
            f"script has {len(toks)} tokens — exceeds the 1000-token cap"
        )
    p = _Parser(toks)
    node = p.block(until_brace=False)
    if p.peek() is not None:
        raise ScriptTranslationError(f"unexpected token {p.peek().text!r} at {p.peek().pos}")
    if node[1] == [] and node[2] is None:
        raise ScriptTranslationError("empty script")
    return node


# ---------------------------------------------------------------------------
# SQL tier. Emission carries a static type ("i" int / "f" float / "s" str /
# "b" bool / None unknown) so int÷int emits Spark `DIV` (Rust-truncated, the
# Rhai i64 semantics) while any float operand keeps `/`.


_SQL_OPS = {"&&": "AND", "||": "OR", "==": "="}

_SCOPE_TYPES: dict[str, str] = {
    "likeCount": "i",
    "replyCount": "i",
    "repostCount": "i",
    "quoteCount": "i",
    "imageCount": "i",
    "lang": "s",
    "tsMillis": "i",
    "ageSeconds": "i",
    "score": "f",
}


def _unify(ta: str | None, tb: str | None) -> str | None:
    if ta == tb:
        return ta
    if {ta, tb} <= {"i", "f"}:
        return "f"
    return None


def _to_sql(node: tuple, env: dict[str, tuple[str, str | None]], now_epoch_expr: str) -> tuple[str, str | None]:
    kind = node[0]
    if kind == "num":
        if isinstance(node[1], float):
            # CAST to DOUBLE: a bare `0.1` literal parses as DECIMAL in
            # Spark SQL, making `0.1 + 0.2 == 0.3` TRUE — Rhai floats
            # are f64 (and the interpreter tier agrees), so decimal
            # arithmetic is the wrong semantics (r13 tier-differential
            # find; pinned in test_scripting_differential)
            return f"CAST({node[1]!r} AS DOUBLE)", "f"
        return str(node[1]), "i"
    if kind == "str":
        return sql_literal(node[1]), "s"
    if kind == "bool":
        return ("true" if node[1] else "false"), "b"
    if kind == "var":
        name = node[1]
        if name in env:
            return env[name]
        if name in RHAI_SCOPE_COLUMNS:
            return RHAI_SCOPE_COLUMNS[name].replace("__now_epoch__", now_epoch_expr), _SCOPE_TYPES.get(name)
        raise ScriptTranslationError(f"unknown identifier {name!r}")
    if kind == "un":
        inner, ty = _to_sql(node[2], env, now_epoch_expr)
        if node[1] == "!":
            if ty in ("i", "f", "s"):
                # Rhai '!' is bool-only — a number/string operand is a
                # RUNTIME error, so it must not hard-fail translation:
                # under short-circuit the operand may be dynamically
                # dead (`false && !likeCount` runs fine in Rhai). Route
                # to the interpreter tier, whose _bool_guard raises the
                # reference's error exactly when evaluated (ADVICE r14)
                raise _NeedsUdf("operator '!' on a non-boolean operand")
            return f"(NOT {inner})", "b"
        if ty in ("s", "b"):
            # runtime error in Rhai (no unary '-' on these types) —
            # interpreter tier decides (_arith_guard), same reasoning
            raise _NeedsUdf(
                "unary '-' on "
                + ("a string" if ty == "s" else "a boolean")
            )
        return f"(- {inner})", ty
    if kind == "bin":
        a, ta = _to_sql(node[2], env, now_epoch_expr)
        b, tb = _to_sql(node[3], env, now_epoch_expr)
        op = node[1]
        if op in ("&&", "||"):
            if ta in ("i", "f", "s") or tb in ("i", "f", "s"):
                # Rhai logical ops are bool-only — a number/string
                # operand is a RUNTIME error, not truthiness (r14
                # review find). Runtime, though, means short-circuit
                # can skip it: `false && (lang && true)` runs fine in
                # the reference, so a translation-time hard error here
                # failed scripts Rhai accepts (ADVICE r14). The
                # interpreter tier preserves short-circuit and raises
                # only when the ill-typed operand actually evaluates.
                raise _NeedsUdf(
                    f"operator {op!r} on a non-boolean operand"
                )
            return f"({a} {_SQL_OPS.get(op, op)} {b})", "b"
        if op in ("==", "!=", "<", "<=", ">", ">="):
            # Rhai 1.x cross-type comparison semantics (ADVICE r13): a
            # type pair with no registered comparison operator makes
            # `==` FALSE, `!=` TRUE and ordering FALSE — never an error
            # (the r13 guard raised ScriptTranslationError here,
            # hard-failing the SQL tier on scripts the reference runs
            # fine, e.g. `lang == 5 || likeCount > 3`). Registered
            # pairs: int/float compare numerically, strings compare
            # lexicographically (byte order, same as Rust), bool has
            # ==/!= but NO ordering. The interpreter tier mirrors this
            # (_rhai_eq / the ordering branch of _eval).
            if ta == tb == "b" and op not in ("==", "!="):
                # SAME-type pair with no registered ordering: Rhai
                # 1.x's default-comparison fallback in builtin.rs is
                # gated on type1 != type2, so `true < false` raises
                # ErrorFunctionNotFound at RUNTIME (ADVICE r14 — the
                # r14 code wrongly folded it to false like the
                # cross-type default). Runtime error → interpreter
                # tier decides (short-circuit may skip it); its
                # ordering branch raises the same shape.
                raise _NeedsUdf(f"ordering {op!r} on two booleans")
            comparable = (
                {ta, tb} <= {"i", "f"}
                or ta == tb == "s"
                or (ta == tb == "b" and op in ("==", "!="))
            )
            if comparable or None in (ta, tb):
                return f"({a} {_SQL_OPS.get(op, op)} {b})", "b"
            return ("true" if op == "!=" else "false"), "b"
        if op == "+" and "s" in (ta, tb):
            # Rhai's standard MoreStringPackage registers `+` between a
            # string and ANY standard type (add_append/add_prepend in
            # string_basic.rs — part of rhai::Engine::new(),
            # main.rs:1954), so `lang + 1` is "en1", NOT a type error
            # (ADVICE r15: the previous code asserted mixed arithmetic
            # with a string operand errors — true for -,*,/,% and for
            # bool/unit operands, wrong for `+`). int and bool render
            # identically in Rhai Display and Spark CAST(.. AS STRING)
            # ("1", "true"), so those emit as concat+cast; a FLOAT
            # operand diverges in display corners (Spark "1.0E20" vs
            # Rust "1e20"), and an unknown-typed operand may be a float
            # at runtime — both route to the interpreter tier, whose
            # _rhai_str implements FloatWrapper's display algorithm.
            if ta == tb == "s":
                return f"concat({a}, {b})", "s"
            other = tb if ta == "s" else ta
            if other in ("i", "b"):
                sa = a if ta == "s" else f"CAST({a} AS STRING)"
                sb = b if tb == "s" else f"CAST({b} AS STRING)"
                return f"concat({sa}, {sb})", "s"
            raise _NeedsUdf("string '+' with a float/unknown-typed operand")
        if "s" in (ta, tb) or "b" in (ta, tb):
            # mixed-type arithmetic (other than string `+`, above) is a
            # RUNTIME type error in Rhai — like the boolean contexts
            # above, the operand may be dynamically dead under
            # short-circuit, so route to the interpreter tier
            # (_arith_guard raises when evaluated) instead of
            # hard-failing translation (ADVICE r14)
            raise _NeedsUdf(
                f"operator {op!r} on a "
                + ("string" if "s" in (ta, tb) else "boolean")
                + " operand"
            )
        if op == "/":
            if ta == "i" and tb == "i":
                # Rhai i64 division truncates (main.rs:2602-2621 scope is i64)
                return f"({a} DIV {b})", "i"
            return f"({a} / {b})", "f"
        # + - * %: int only when both sides are int (Spark's bigint % already
        # matches Rust's remainder — sign of the dividend)
        ty = "i" if (ta == "i" and tb == "i") else _unify(ta, tb)
        return f"({a} {op} {b})", ty
    if kind == "if":
        if node[3] is None:
            raise _NeedsUdf("if without else in expression position")
        c, _tc = _to_sql(node[1], env, now_epoch_expr)
        if _tc in ("i", "f", "s"):
            # Rhai `if` conditions are bool-only — a non-bool condition
            # is a RUNTIME error; interpreter tier decides (ADVICE r14;
            # an if-condition cannot itself be short-circuit-dead, but
            # the whole `if` can sit inside a dead operand)
            raise _NeedsUdf("non-boolean if condition")
        t, tt = _block_to_sql_typed(node[2], dict(env), now_epoch_expr)
        e, te = _block_to_sql_typed(node[3], dict(env), now_epoch_expr)
        ty = _unify(tt, te)
        if ty is None and None not in (tt, te):
            # branches with KNOWN incompatible types (str vs num, bool
            # vs num): Spark's CASE WHEN would silently coerce both to
            # string — the interpreter tier stays dynamically typed
            # like Rhai, so this shape belongs there (r13 review pass)
            raise _NeedsUdf(f"if branches have incompatible types ({tt} vs {te})")
        return f"(CASE WHEN {c} THEN {t} ELSE {e} END)", ty
    if kind in ("assign", "while", "return"):
        raise _NeedsUdf(f"{kind} statement")
    raise ScriptTranslationError(f"unsupported node {kind}")


def _block_to_sql_typed(
    block: tuple, env: dict[str, tuple[str, str | None]], now_epoch_expr: str
) -> tuple[str, str | None]:
    _, stmts, final = block
    for s in stmts:
        if s[0] == "let":
            # single-assignment: inline the bound SQL into later references
            env[s[1]] = _to_sql(s[2], env, now_epoch_expr)
        else:
            raise _NeedsUdf(f"statement of kind {s[0]} before the result expression")
    if final is None:
        raise _NeedsUdf("block has no final expression")
    return _to_sql(final, env, now_epoch_expr)


def _block_to_sql(block: tuple, env: dict, now_epoch_expr: str) -> str:
    return _block_to_sql_typed(block, env, now_epoch_expr)[0]


# ---------------------------------------------------------------------------
# Sandboxed interpreter tier (pandas UDF)


class _Return(Exception):
    def __init__(self, value):
        self.value = value


_MAX_LOOP_ITERS = 100_000


def _is_int(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


def _is_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _bool_guard(ctx: str, v):
    """Rhai boolean contexts (&&, ||, !, if/while conditions) are
    bool-only — a number/string/unit lands a runtime error, never
    Python truthiness (r14 review find; the SQL tier raises the same
    shape at translation time)."""
    if not isinstance(v, bool):
        raise ScriptRuntimeError(f"{ctx} requires a boolean operand")
    return v


def _rhai_eq(a, b) -> bool:
    """Rhai 1.x equality: int/float compare numerically, same-type
    values compare natively, and a type pair with NO registered `==`
    (string vs number, bool vs number, unit vs anything) is FALSE —
    never an error. `!=` is its exact negation (ADVICE r13: the
    previous guard raised here, diverging from the reference AND from
    the SQL tier's static emission)."""
    if _is_num(a) and _is_num(b):
        if _is_int(a) != _is_int(b):
            # Rhai's mixed INT/FLOAT builtin compares after promoting
            # the int with `as f64` (and Spark's bigint-vs-double
            # comparison casts the same way) — Python instead compares
            # exactly, diverging above 2^53 (r15 review find:
            # 9007199254740993 == 9007199254740992.0 is true in the
            # reference and on the SQL tier, false in exact Python)
            return float(a) == float(b)
        return a == b
    if isinstance(a, bool) and isinstance(b, bool):
        return a == b
    if isinstance(a, str) and isinstance(b, str):
        return a == b
    if a is None and b is None:
        return True  # Rhai unit: () == ()
    return False


# Rhai's FloatWrapper display gates "natural" notation on f32-typed
# constants MAX/MIN_NATURAL_FLOAT_FOR_DISPLAY = 1e13 / 1e-13 converted
# to f64 — the f32 rounding is part of the observable threshold.
_NAT_MAX = struct.unpack("f", struct.pack("f", 10_000_000_000_000.0))[0]
_NAT_MIN = struct.unpack("f", struct.pack("f", 0.000_000_000_000_1))[0]


def _rhai_float_str(x: float) -> str:
    """Rhai FloatWrapper<f64> Display (types/float.rs): zero prints
    "0.0" (sign dropped — abs-gated); magnitudes outside the natural
    window (f32-rounded 1e-13..1e13) print via Rust's `{:e}` LowerExp
    (shortest digits, normalized mantissa, bare exponent — "1e20", not
    Python's "1e+20" or Spark's "1.0E20"); inside it, Rust `{}`
    positional shortest-round-trip digits with ".0" appended to whole
    numbers. Python's repr supplies the same shortest digit string
    (both are round-trip-minimal, which is unique per f64); only the
    notation is re-shaped. NaN prints "NaN" (Rust Display; rhai's
    append-".0" quirk for NaN is not reproduced — documented
    best-effort: no offline Rhai to differentiate against)."""
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "inf" if x > 0 else "-inf"
    a = abs(x)
    if a == 0.0:
        return "0.0"
    r = repr(x)
    if _NAT_MIN <= a <= _NAT_MAX:
        if "e" in r:  # repr went scientific below 1e-4; Rust doesn't
            r = format(decimal.Decimal(r), "f")
        if "." not in r:
            r += ".0"
        return r
    # Rust {:e}: mantissa = shortest digits normalized to one leading
    # digit, exponent bare (no '+', no padding)
    sign, digits, exp = decimal.Decimal(r).as_tuple()
    e = exp + len(digits) - 1
    ds = "".join(map(str, digits)).rstrip("0") or "0"
    mant = ds[0] + ("." + ds[1:] if len(ds) > 1 else "")
    return ("-" if sign else "") + f"{mant}e{e}"


def _rhai_str(v) -> str:
    """Rhai `to_string` over the script value domain, as used by the
    MoreStringPackage's string `+` append/prepend (ADVICE r15): bool
    renders "true"/"false" (not Python's "True"), unit appends nothing
    (add_append_unit returns the string unchanged), floats go through
    FloatWrapper's display algorithm."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if v is None:
        return ""
    if isinstance(v, float):
        return _rhai_float_str(v)
    return str(v) if not isinstance(v, str) else v


class _Env:
    """Rhai-style lexical scope chain. A `let` declares in the CURRENT
    block's scope; an assignment mutates the nearest enclosing
    declaration (and errors when none exists, like Rhai's 'variable not
    found'). The previous flat-dict implementation leaked block-local
    `let`s into the enclosing scope, so a branch-local shadow of a
    scope column survived the block and changed later reads — a real
    row-value divergence vs the SQL tier (which block-scopes bindings)
    found by the r13 tier differential and pinned in
    test_scripting_differential."""

    __slots__ = ("vars", "parent")

    def __init__(self, vars: dict | None = None, parent: "_Env | None" = None):
        self.vars = vars if vars is not None else {}
        self.parent = parent

    def get(self, name: str):
        e = self
        while e is not None:
            if name in e.vars:
                return e.vars[name]
            e = e.parent
        raise ScriptTranslationError(f"unknown identifier {name!r}")

    def let(self, name: str, value) -> None:
        self.vars[name] = value

    def assign(self, name: str, value) -> None:
        e = self
        while e is not None:
            if name in e.vars:
                e.vars[name] = value
                return
            e = e.parent
        raise ScriptRuntimeError(f"assignment to undeclared variable {name!r}")


_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1


def _check_i64(op: str, v: int) -> int:
    """Rhai integers are CHECKED i64 (overflow is a runtime error the
    reference's unwrap() turns into a query failure) — Python's
    unbounded ints must not silently diverge past 2^63. Found by the
    r13 imperative-grammar differential: an accumulator loop walked a
    bigint past float range and crashed the pandas UDF with a raw
    OverflowError instead of the contract error."""
    if v < _I64_MIN or v > _I64_MAX:
        raise ScriptRuntimeError(f"integer overflow in {op!r}")
    return v


def _arith_guard(op: str, a, b) -> None:
    """Rhai arithmetic is defined on numbers (and `+` with ANY string
    operand — MoreStringPackage append/prepend, handled by the caller
    before this guard, ADVICE r15): a string, bool, or unit operand
    anywhere else is a script type error — raise the contract error
    instead of leaking Python's own operator semantics ('a'*3, True+1)
    or a raw TypeError (None+1 — a unit reaches arithmetic via an
    if-without-else value, r15 directed probe)."""
    if isinstance(a, str) or isinstance(b, str):
        raise ScriptRuntimeError(
            f"operator {op!r} on string and non-string operands"
        )
    if isinstance(a, bool) or isinstance(b, bool):
        raise ScriptRuntimeError(f"operator {op!r} on boolean operands")
    if a is None or b is None:
        raise ScriptRuntimeError(f"operator {op!r} on a unit operand")


def _eval(node: tuple, env: "_Env"):
    kind = node[0]
    if kind in ("num", "str", "bool"):
        return node[1]
    if kind == "var":
        return env.get(node[1])
    if kind == "un":
        v = _eval(node[2], env)
        if node[1] == "!":
            return not _bool_guard("operator '!'", v)
        _arith_guard("-", v, 0)
        return _check_i64("-", -v) if _is_int(v) else -v
    if kind == "bin":
        op = node[1]
        a = _eval(node[2], env)
        if op == "&&":
            # short-circuit preserved: the right side only evaluates
            # (and only type-checks) when the left side is true
            if not _bool_guard("operator '&&'", a):
                return False
            return _bool_guard("operator '&&'", _eval(node[3], env))
        if op == "||":
            if _bool_guard("operator '||'", a):
                return True
            return _bool_guard("operator '||'", _eval(node[3], env))
        b = _eval(node[3], env)
        if op == "+":
            if isinstance(a, str) or isinstance(b, str):
                # MoreStringPackage add_append/add_prepend: `+` between
                # a string and ANY standard type to_string-s the other
                # operand — "en" + 1 is "en1", 1 + "en" is "1en", unit
                # appends nothing (ADVICE r15). Only -,*,/,% with a
                # string operand remain runtime type errors.
                return _rhai_str(a) + _rhai_str(b)
            _arith_guard(op, a, b)
            v = a + b
            return _check_i64(op, v) if _is_int(v) else v
        if op == "-":
            _arith_guard(op, a, b)
            v = a - b
            return _check_i64(op, v) if _is_int(v) else v
        if op == "*":
            _arith_guard(op, a, b)
            v = a * b
            return _check_i64(op, v) if _is_int(v) else v
        if op == "/":
            # Rhai/Rust semantics: i64 ÷ i64 truncates toward zero and
            # ERRORS on zero (the reference unwrap()s → query fails);
            # f64 ÷ 0 is ±inf/nan (module docstring)
            _arith_guard(op, a, b)
            if _is_int(a) and _is_int(b):
                if b == 0:
                    raise ScriptRuntimeError("integer division by zero")
                q = abs(a) // abs(b)
                # i64::MIN / -1 overflows in checked i64 (Rust panics)
                return _check_i64(op, q if (a >= 0) == (b >= 0) else -q)
            if b == 0:
                return float("nan") if a == 0 else math.copysign(math.inf, a) * math.copysign(1.0, b)
            return a / b
        if op == "%":
            # Rust remainder: sign of the dividend (both i64 and f64)
            _arith_guard(op, a, b)
            if _is_int(a) and _is_int(b):
                if b == 0:
                    raise ScriptRuntimeError("integer modulo by zero")
                r = abs(a) % abs(b)
                return r if a >= 0 else -r
            return math.fmod(a, b) if b != 0 else float("nan")
        if op == "==":
            return _rhai_eq(a, b)
        if op == "!=":
            return not _rhai_eq(a, b)
        if op in ("<", "<=", ">", ">="):
            # Rhai ordering is registered within numbers and within
            # strings only. A CROSS-type pair (string vs number, bool
            # vs number, unit vs anything else) hits builtin.rs's
            # default-comparison fallback — gated on type1 != type2 —
            # and is FALSE, never an error (ADVICE r13). A SAME-type
            # pair with no registered ordering (bool-bool, unit-unit)
            # misses the gate and raises ErrorFunctionNotFound, which
            # the reference unwrap()s into a query failure (ADVICE
            # r14 — previously folded to false like the cross-type
            # default). Never Python's TypeError escaping the sandbox.
            if not (
                (_is_num(a) and _is_num(b))
                or (isinstance(a, str) and isinstance(b, str))
            ):
                same_type = (
                    (isinstance(a, bool) and isinstance(b, bool))
                    or (a is None and b is None)
                )
                if same_type:
                    tn = "bool" if isinstance(a, bool) else "()"
                    raise ScriptRuntimeError(
                        f"function not found: {op!r} ({tn}, {tn})"
                    )
                return False
            if _is_num(a) and _is_num(b) and (_is_int(a) != _is_int(b)):
                # mixed INT/FLOAT ordering promotes the int to f64 like
                # Rhai's builtin (and Spark's bigint-vs-double cast) —
                # see _rhai_eq (r15 review find)
                a, b = float(a), float(b)
            if op == "<":
                return a < b
            if op == "<=":
                return a <= b
            if op == ">":
                return a > b
            return a >= b
    if kind == "if":
        # each branch is its own lexical scope (child _Env): its `let`s
        # die with the branch, assignments to enclosing vars propagate
        if _bool_guard("if condition", _eval(node[1], env)):
            return _eval_block(node[2], _Env(parent=env))
        if node[3] is not None:
            return _eval_block(node[3], _Env(parent=env))
        return None
    raise ScriptTranslationError(f"unsupported node {kind}")


def _eval_stmt(node: tuple, env: "_Env"):
    kind = node[0]
    if kind == "let":
        env.let(node[1], _eval(node[2], env))
        return None
    if kind == "assign":
        env.assign(node[1], _eval(node[2], env))
        return None
    if kind == "return":
        raise _Return(_eval(node[1], env))
    if kind == "while":
        n = 0
        while _bool_guard("while condition", _eval(node[1], env)):
            # fresh scope per iteration: loop-body `let`s do not
            # persist across iterations (Rhai block scoping)
            _eval_block(node[2], _Env(parent=env))
            n += 1
            if n > _MAX_LOOP_ITERS:
                # a runtime resource bound (fires during evaluation in
                # the pandas UDF), not a grammar error — r15: was
                # mistyped as ScriptTranslationError
                raise ScriptRuntimeError(
                    f"while loop exceeded the {_MAX_LOOP_ITERS}-iteration cap"
                )
        return None
    return _eval(node, env)


def _eval_block(block: tuple, env: "_Env"):
    _, stmts, final = block
    out = None
    for s in stmts:
        out = _eval_stmt(s, env)
    if final is not None:
        out = _eval(final, env)
    return out


def _udf_column(ast: tuple, now_epoch_expr: str, *, boolean: bool) -> Column:
    """Evaluate the AST per row over the fixed Rhai scope, as an
    Arrow-batched pandas UDF. The scope values are computed JVM-side (the
    same SQL exprs as the fast tier) and shipped as a struct — only the
    script logic itself runs in Python."""
    names = list(RHAI_SCOPE_COLUMNS)

    def _run_rows(batch: pd.DataFrame) -> list:
        results = []
        for row in batch.itertuples(index=False):
            env = _Env(dict(zip(names, row)))
            try:
                v = _eval_block(ast, env)
            except _Return as r:
                v = r.value
            results.append(v)
        return results

    if boolean:

        @F.pandas_udf("boolean")
        def run(batch: pd.DataFrame) -> pd.Series:
            # fail-loud like the reference's `let result: bool = ...unwrap()`
            # (main.rs:1965): a non-bool result is a script bug, not a
            # silently-dropped row
            vals = []
            for v in _run_rows(batch):
                if not isinstance(v, bool):
                    raise ScriptRuntimeError(
                        f"where-script returned {type(v).__name__}, expected bool "
                        "(the reference hard-errors here, main.rs:1965)"
                    )
                vals.append(v)
            return pd.Series(vals, dtype="object")

    else:

        @F.pandas_udf("double")
        def run(batch: pd.DataFrame) -> pd.Series:
            # numeric context: ints coerce to double (documented leniency vs
            # strict Rhai eval::<f64>); bool/None/str results are script bugs
            vals = []
            for v in _run_rows(batch):
                if isinstance(v, bool) or not isinstance(v, (int, float)):
                    raise ScriptRuntimeError(
                        f"score-script returned {type(v).__name__}, expected a number "
                        "(the reference hard-errors here, main.rs:2174)"
                    )
                vals.append(float(v))
            return pd.Series(vals, dtype="float64")

    scope = F.struct(
        *[
            F.expr(RHAI_SCOPE_COLUMNS[n].replace("__now_epoch__", now_epoch_expr)).alias(n)
            for n in names
        ]
    )
    return run(scope)


def translate_script_with_tier(
    script: str,
    *,
    now_epoch_expr: str = "unix_seconds(current_timestamp())",
    allow_udf: bool = False,
    boolean: bool = False,
) -> tuple[str | Column, str, str | None]:
    """``translate_script`` plus tier observability: returns
    ``(expression, tier, reason)`` where tier is ``"sql"`` (the expression
    is Catalyst SQL text, codegen fast path) or ``"udf"`` (a Column calling
    the sandboxed interpreter, the documented 10-100× slow path), and reason
    is the _NeedsUdf routing message for the UDF tier (None on the SQL
    tier). Since the r15 ADVICE closures route statically ill-typed shapes
    to the UDF tier instead of hard-failing, a buggy or hostile feed config
    can silently land a whole query on the slow tier — the blocks
    translator records this per block and the serving layer surfaces it
    in the debug payload (r16, verdict r15 ask #5)."""
    ast = _parse(script)
    try:
        return _block_to_sql(ast, {}, now_epoch_expr), "sql", None
    except _NeedsUdf as why:
        if not allow_udf:
            raise ScriptTranslationError(
                f"script needs the sandboxed UDF tier ({why}); pass allow_udf=True to opt in"
            ) from None
        return _udf_column(ast, now_epoch_expr, boolean=boolean), "udf", str(why)


def translate_script(
    script: str,
    *,
    now_epoch_expr: str = "unix_seconds(current_timestamp())",
    allow_udf: bool = False,
    boolean: bool = False,
) -> Column:
    """Translate a Rhai script to a Column.

    Expressions, `let` bindings and `if/else` translate to a Catalyst SQL
    expression (fast path). Imperative scripts (reassignment, `while`,
    `return`, statement `if`) need ``allow_udf=True`` and run in the
    sandboxed interpreter; pass ``boolean=True`` in filter contexts so the
    UDF tier yields a boolean predicate (the SQL tier's type is already
    whatever the expression produces, like the reference's eval).
    """
    expr, tier, _ = translate_script_with_tier(
        script,
        now_epoch_expr=now_epoch_expr,
        allow_udf=allow_udf,
        boolean=boolean,
    )
    return F.expr(expr) if tier == "sql" else expr
