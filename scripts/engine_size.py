"""Print the size of the crawl engine: the code lines of every module in this
repository that ``main.py`` imports, directly or through other modules.

    python3 scripts/engine_size.py [--root DIR] [--per-module]

Imports inside functions count (the engine imports many operators lazily).
A code line is a source line with at least one token that is not a comment
and not part of a module, class or function docstring; blank lines do not
count. Modules outside the repository (pyspark, numpy, ...) are not followed.
"""

from __future__ import annotations

import argparse
import ast
import io
import os
import tokenize

SKIP_TOKENS = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}


def module_file(root: str, name: str) -> str | None:
    """The file of dotted module ``name`` under ``root``, or None."""
    base = os.path.join(root, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def imported_names(tree: ast.AST, name: str, is_package: bool) -> set[str]:
    """Every dotted module name an import statement in ``tree`` may load,
    parents included (importing ``a.b`` runs ``a/__init__.py`` first)."""
    package = name if is_package else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            targets = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1])
                mod = f"{base}.{node.module}" if node.module else base
            else:
                mod = node.module
            targets = [mod] + [f"{mod}.{alias.name}" for alias in node.names]
        else:
            continue
        for target in targets:
            parts = target.split(".")
            out.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    return out


def code_lines(source: str, tree: ast.AST) -> int:
    docstrings: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                docstrings.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in SKIP_TOKENS:
            continue
        lines.update(n for n in range(tok.start[0], tok.end[0] + 1) if n not in docstrings)
    return len(lines)


def closure(root: str, entry: str) -> dict[str, int]:
    """Module name (``main`` for the entry file) -> code lines."""
    sizes: dict[str, int] = {}
    todo = [("main", os.path.join(root, entry))]
    while todo:
        name, path = todo.pop()
        if name in sizes:
            continue
        with open(path, encoding="utf-8") as fh:
            source = fh.read()
        tree = ast.parse(source, path)
        sizes[name] = code_lines(source, tree)
        is_package = os.path.basename(path) == "__init__.py"
        for dep in imported_names(tree, name, is_package):
            dep_path = module_file(root, dep)
            if dep_path is not None and dep not in sizes:
                todo.append((dep, dep_path))
    return sizes


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--root", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        help="repository root holding main.py (default: this script's repository)",
    )
    ap.add_argument("--per-module", action="store_true", help="also print each module's count")
    args = ap.parse_args()
    sizes = closure(args.root, "main.py")
    if args.per_module:
        for name in sorted(sizes):
            print(f"{sizes[name]:6d}  {name}")
    print(f"engine code lines: {sum(sizes.values())} in {len(sizes)} modules")


if __name__ == "__main__":
    main()
