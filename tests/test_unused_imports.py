"""Lint: no library module imports a name it never uses, no library
function takes a parameter it never reads, no library module uses an
``assert`` statement, no function re-imports from a module its file
already imports from at module level, only ``functions.bp`` and
``functions.whole_bits`` spell out the basis-point and whole-bit log
expressions, and no f-string quotes an identifier by hand.

Small AST passes instead of a linter dependency. An import counts as
used when its name appears as an identifier anywhere in the module or
is listed in ``__all__``; package ``__init__.py`` files are skipped
because their imports are re-exports, and a line marked ``noqa: F401``
is exempt. A parameter counts as read when its name appears as an
identifier in the function body (nested functions included); ``self``,
``cls`` and names starting with ``_`` (a signature fixed by a caller,
such as a ``foreachBatch`` batch id) are exempt. ``python -O`` strips
every ``assert``, so a library check on its arguments raises instead.
A string literal (adjacent literals and f-string pieces are joined by
the parser) spells out a basis point when it holds the
``BP_FRAGMENT`` of ``functions.bp``, whitespace ignored; it spells
out a whole-bit log when it holds ``length(bin(``, whitespace and case
ignored, as does an ``F.length(F.bin(...))`` call. An f-string quotes
an identifier by hand when it places a formatted value directly between
two backticks; ``functions.sql_ident`` is the one quoting, because it
doubles an embedded backtick.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "w_userflow_featurestore_spark"
MODULES = sorted(p for p in PKG.rglob("*.py") if p.name != "__init__.py")


def unused_imports(source: str) -> list[tuple[int, str]]:
    """(line, name) for every imported name the module never uses."""
    tree = ast.parse(source)
    lines = source.splitlines()
    imported: list[tuple[int, str]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [(a.asname or a.name.split(".")[0]) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            names = [a.asname or a.name for a in node.names if a.name != "*"]
        else:
            continue
        if "noqa: F401" in lines[node.lineno - 1]:
            continue
        imported += [(node.lineno, n) for n in names]
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__"
                        for t in node.targets)):
            used |= {e.value for e in ast.walk(node.value)
                     if isinstance(e, ast.Constant)}
    return sorted((line, n) for line, n in imported if n not in used)


def unused_params(source: str) -> list[tuple[int, str, str]]:
    """(line, function, parameter) for every parameter its function
    never reads."""
    out = []
    for fn in ast.walk(ast.parse(source)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        a = fn.args
        params = [*a.posonlyargs, *a.args, *a.kwonlyargs,
                  *[p for p in (a.vararg, a.kwarg) if p is not None]]
        read = {n.id for stmt in fn.body for n in ast.walk(stmt)
                if isinstance(n, ast.Name)}
        out += [(fn.lineno, fn.name, p.arg) for p in params
                if p.arg not in read and p.arg not in ("self", "cls")
                and not p.arg.startswith("_")]
    return sorted(out)


def asserts(source: str) -> list[int]:
    """Line of every ``assert`` statement."""
    return sorted(n.lineno for n in ast.walk(ast.parse(source))
                  if isinstance(n, ast.Assert))


BP_FRAGMENT = "DECIMAL(38,0)) * 10000"
BP_HOME = PKG / "functions" / "__init__.py"


def bp_spellings(source: str) -> list[int]:
    """Line of every string literal holding ``BP_FRAGMENT``."""
    frag = re.sub(r"\s+", "", BP_FRAGMENT)
    return sorted(n.lineno for n in ast.walk(ast.parse(source))
                  if isinstance(n, ast.Constant) and isinstance(n.value, str)
                  and frag in re.sub(r"\s+", "", n.value))


def redundant_local_imports(source: str) -> list[int]:
    """Line of every function-local ``from X import`` whose module ``X``
    the file already imports from at module level."""
    tree = ast.parse(source)
    top = {(n.module, n.level) for n in tree.body
           if isinstance(n, ast.ImportFrom)}
    return sorted({n.lineno for fn in ast.walk(tree)
                   if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
                   for n in ast.walk(fn)
                   if isinstance(n, ast.ImportFrom)
                   and (n.module, n.level) in top})


WHOLE_BITS_FRAGMENT = "length(bin("


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def whole_bit_spellings(source: str) -> list[int]:
    """Line of every string literal holding ``WHOLE_BITS_FRAGMENT`` and
    of every ``length(bin(...))`` call."""
    out = []
    for n in ast.walk(ast.parse(source)):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            if WHOLE_BITS_FRAGMENT in re.sub(r"\s+", "", n.value).lower():
                out.append(n.lineno)
        elif (isinstance(n, ast.Call) and _callee(n) == "length" and n.args
              and isinstance(n.args[0], ast.Call)
              and _callee(n.args[0]) == "bin"):
            out.append(n.lineno)
    return sorted(out)


def hand_quoted_identifiers(source: str) -> list[int]:
    """Line of every f-string that places a formatted value directly
    between two backticks."""
    out = []
    for n in ast.walk(ast.parse(source)):
        if not isinstance(n, ast.JoinedStr):
            continue
        v = n.values
        out += [n.lineno for i in range(1, len(v) - 1)
                if isinstance(v[i], ast.FormattedValue)
                and isinstance(v[i - 1], ast.Constant)
                and v[i - 1].value.endswith("`")
                and isinstance(v[i + 1], ast.Constant)
                and v[i + 1].value.startswith("`")]
    return sorted(out)


def test_checker_flags_only_unused_names():
    src = ("from __future__ import annotations\n"
           "import os\nimport json\n"
           "from a import b, c as d\n"
           "from e import f  # noqa: F401\n"
           "__all__ = ['b']\n"
           "def g():\n    from h import i\n    return json.dumps(d)\n")
    assert unused_imports(src) == [(2, "os"), (8, "i")]


def test_param_checker_flags_only_unread_parameters():
    src = ("class C:\n"
           "    def m(self, a, _b, *args, k=1, **kw):\n"
           "        return a, kw\n"
           "def f(x, y, _z):\n"
           "    def g():\n"
           "        return x\n"
           "    return g\n")
    assert unused_params(src) == [(2, "m", "args"), (2, "m", "k"),
                                  (4, "f", "y")]


def test_assert_checker_flags_every_assert_statement():
    src = ("def f(x):\n"
           "    assert x > 0, 'x must be positive'\n"
           "    if x > 9:\n"
           "        raise ValueError(x)\n"
           "    return 'assert x'\n"
           "assert f(1)\n")
    assert asserts(src) == [2, 6]


def test_bp_checker_flags_each_spelled_out_basis_point():
    src = ('a = ("CAST((CAST(n AS DECIMAL(38,0))"\n'
           '     " * 10000) DIV d AS BIGINT)")\n'
           'b = f"CAST((CAST({x} AS DECIMAL(38,0))*10000) DIV d AS BIGINT)"\n'
           'c = "CAST(n AS DECIMAL(38,0)) * 100"\n'
           'd = "DECIMAL(38,0)"\n')
    assert bp_spellings(src) == [1, 3]
    assert len(bp_spellings(BP_HOME.read_text())) == 1


def test_local_import_checker_flags_only_repeated_modules():
    src = ("from a import b\nimport c\n"
           "def f():\n"
           "    from a import d\n"
           "    from e import g\n"
           "    import c\n"
           "    return b, c, d, g\n"
           "class K:\n"
           "    def m(self):\n"
           "        from a import h\n"
           "        from .a import i\n"
           "        return h, i\n")
    assert redundant_local_imports(src) == [4, 10]


def test_whole_bits_checker_flags_both_spellings():
    src = ('a = "length(bin(n DIV d)) - 1"\n'
           'b = F.length(F.bin(F.expr("n DIV d"))) - 1\n'
           'c = f"LENGTH( BIN({x}))"\n'
           'd = "length(x) + bin(y)"\n'
           'e = F.length(F.col("bin"))\n'
           'f = length(bin(7))\n')
    assert whole_bit_spellings(src) == [1, 2, 3, 6]
    assert len(whole_bit_spellings(BP_HOME.read_text())) == 1


def test_hand_quoting_checker_flags_backtick_wrapped_values():
    src = ('a = f"`{x}`"\n'
           'b = f"CAST(`{x}` AS STRING)"\n'
           'c = f"{sql_ident(x)} {t}"\n'
           'd = "`{x}`"\n'
           'e = f"`a` {x}"\n'
           'f = (f"sum(`{x}"\n'
           '     f"`)")\n')
    assert hand_quoted_identifiers(src) == [1, 2, 6]


@pytest.mark.parametrize("path", MODULES,
                         ids=[str(p.relative_to(PKG)) for p in MODULES])
def test_library_module_has_no_unused_imports(path):
    assert unused_imports(path.read_text()) == []


ALL_MODULES = sorted(PKG.rglob("*.py"))


@pytest.mark.parametrize("path", ALL_MODULES,
                         ids=[str(p.relative_to(PKG)) for p in ALL_MODULES])
def test_library_functions_read_every_parameter(path):
    assert unused_params(path.read_text()) == []


@pytest.mark.parametrize("path", ALL_MODULES,
                         ids=[str(p.relative_to(PKG)) for p in ALL_MODULES])
def test_library_module_has_no_assert_statement(path):
    assert asserts(path.read_text()) == []


NOT_BP_HOME = [p for p in ALL_MODULES if p != BP_HOME]


@pytest.mark.parametrize("path", NOT_BP_HOME,
                         ids=[str(p.relative_to(PKG)) for p in NOT_BP_HOME])
def test_only_functions_bp_spells_out_a_basis_point(path):
    assert bp_spellings(path.read_text()) == []


@pytest.mark.parametrize("path", ALL_MODULES,
                         ids=[str(p.relative_to(PKG)) for p in ALL_MODULES])
def test_no_function_reimports_a_module_level_import(path):
    assert redundant_local_imports(path.read_text()) == []


@pytest.mark.parametrize("path", NOT_BP_HOME,
                         ids=[str(p.relative_to(PKG)) for p in NOT_BP_HOME])
def test_only_functions_whole_bits_spells_out_a_whole_bit_log(path):
    assert whole_bit_spellings(path.read_text()) == []


@pytest.mark.parametrize("path", ALL_MODULES,
                         ids=[str(p.relative_to(PKG)) for p in ALL_MODULES])
def test_library_fstrings_quote_identifiers_with_sql_ident(path):
    assert hand_quoted_identifiers(path.read_text()) == []
