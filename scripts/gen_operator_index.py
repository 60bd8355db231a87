"""Generate docs/OPERATORS.md: every public function/class of the
engine's packages with its signature and first docstring line — the
auditable API surface, regenerated by running this script (CI-light:
the test suite asserts the file is current via a hash of the inputs).

Usage:  python scripts/gen_operator_index.py
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "tap_airbyte_wrapper_spark")

SECTIONS = [
    ("Core EL engine", ["schema.py", "catalog.py", "state.py", "maps.py",
                        "singer_io.py", "sync.py", "cli.py", "sinks.py"]),
    ("Sources", ["sources/base.py", "sources/files.py", "sources/jdbc.py",
                 "sources/rest.py", "sources/http.py",
                 "sources/changelog.py"]),
    ("Relational operators", ["operators/joins.py", "operators/aggregates.py",
                              "operators/windows.py", "operators/setops.py",
                              "operators/merge.py", "operators/timeseries.py",
                              "operators/quality.py", "operators/stats.py",
                              "operators/tails.py",
                              "operators/graph.py"]),
    ("LLM-pipeline functions", ["functions/text.py", "functions/dedup.py",
                                "functions/hamming.py",
                                "functions/similarity.py",
                                "functions/retrieval.py",
                                "functions/index_store.py",
                                "functions/projection.py",
                                "functions/classifier.py",
                                "functions/lm.py",
                                "functions/corpus.py", "functions/texteval.py",
                                "functions/pii.py",
                                "functions/sampling.py", "functions/dsir.py",
                                "functions/bpe.py",
                              "functions/unigram.py",
                                "functions/udtf.py",
                                "functions/multimodal.py",
                                "functions/codecs.py",
                                "functions/jpeg.py",
                                "functions/video.py",
                                "functions/audio_meta.py",
                                "functions/exif.py"]),
    ("Structured Streaming", ["streaming/incremental.py",
                              "streaming/stateful.py", "streaming/cdc.py",
                              "streaming/dedup.py",
                              "streaming/similarity.py",
                              "streaming/selection.py",
                              "streaming/trending.py",
                              "streaming/stats.py",
                              "streaming/drift.py",
                              "streaming/index_maint.py"]),
    ("Support", ["fsutil.py", "confutil.py", "casefold.py"]),
]


def check_complete() -> list[str]:
    """Every non-private package module must be in some section — a
    hard-coded list silently rots as modules are added (it missed the
    round-5 classifier/lm and streaming gates until round 6)."""
    listed = {rel for _, files in SECTIONS for rel in files}
    missing = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py") or f.startswith("_"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), PKG)
            if rel not in listed and not rel.startswith(("plans",)):
                missing.append(rel)
    return missing


def first_line(doc: str | None) -> str:
    if not doc:
        return ""
    return " ".join(doc.strip().split("\n")[0].split())


def signature(fn: ast.FunctionDef) -> str:
    args = [a.arg for a in fn.args.args]
    if fn.args.vararg:
        args.append("*" + fn.args.vararg.arg)
    if fn.args.kwonlyargs:
        args.extend(a.arg for a in fn.args.kwonlyargs)
    return f"{fn.name}({', '.join(args)})"


def collect(path: str) -> list[str]:
    tree = ast.parse(open(path).read())
    out = []
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
            out.append(f"- `{signature(node)}` — "
                       f"{first_line(ast.get_docstring(node))}")
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            out.append(f"- `class {node.name}` — "
                       f"{first_line(ast.get_docstring(node))}")
            for sub in node.body:
                if (isinstance(sub, ast.FunctionDef)
                        and not sub.name.startswith("_")):
                    out.append(f"  - `.{signature(sub)}` — "
                               f"{first_line(ast.get_docstring(sub))}")
    return out


def render() -> str:
    """The full OPERATORS.md content (also used by the currency test in
    tests/test_docs.py, which asserts the committed file matches)."""
    lines = ["# Operator & API index",
             "",
             "Generated by `scripts/gen_operator_index.py` — the public "
             "surface of every module, one line each.  Regenerate after "
             "adding operators.", ""]
    for title, files in SECTIONS:
        lines.append(f"## {title}")
        lines.append("")
        for rel in files:
            p = os.path.join(PKG, rel)
            if not os.path.exists(p):
                continue
            entries = collect(p)
            if not entries:
                continue
            lines.append(f"### `{rel}`")
            lines.append("")
            lines.extend(entries)
            lines.append("")
    return "\n".join(lines) + "\n"


def main() -> int:
    missing = check_complete()
    if missing:
        print(f"ERROR: modules not in any section: {missing}",
              file=sys.stderr)
        return 1
    content = render()
    os.makedirs(os.path.join(ROOT, "docs"), exist_ok=True)
    out_path = os.path.join(ROOT, "docs", "OPERATORS.md")
    with open(out_path, "w") as f:
        f.write(content)
    print(f"wrote {out_path}: "
          f"{sum(1 for line in content.splitlines() if line.startswith(('-', '  -')))} "
          "entries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
