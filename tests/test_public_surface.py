"""Every public top-level function or class of the package must be
reached by something other than a test: the library itself, ``tools/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. Names exported
through an ``__all__`` count as reached, and so does the short allowlist
below, where each entry names the SURVEY.md §2A/§2B row it serves.

References are read from the AST (imported names, bare names and
attribute names), never from text, so a mention in a docstring or
comment does not keep a function alive. No Spark is needed."""

from __future__ import annotations

import ast
import os

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dask_felleskomponenter_spark"

# name -> the SURVEY.md row it serves
ALLOWLIST = {
    "register_all_udfs": "§2A U4 UDF registry",
    "hamming64": "§2B LLM-pipeline: near-dup (SimHash distance)",
    "rolling_fingerprint_md5": (
        "§2B LLM-pipeline: near-dup (oracle-checkable fingerprint)"
    ),
    "overwide_signature_buckets": (
        "§2B LLM-pipeline: cross-batch dedup history (screen audit)"
    ),
    "redact_pii": "§2B LLM-pipeline: text analysis (PII scrub)",
    "extract_image_features": "§2B LLM-pipeline: multimodal columns",
    "with_media_metadata": "§2B LLM-pipeline: multimodal columns",
    "media_size": "§2B LLM-pipeline: multimodal columns",
    "media_encoding_of": "§2B LLM-pipeline: multimodal columns",
    "png_encode_media": "§2B LLM-pipeline: multimodal columns",
    "decode_videos": "§2B LLM-pipeline: multimodal columns",
    "resize_images": "§2B LLM-pipeline: multimodal columns",
    "sample_frames": "§2B LLM-pipeline: multimodal columns",
    "write_sorted_shards": "§2B sinks (training-shard layout)",
    "write_zordered": "§2B sinks (Z-order clustered layout)",
    "compact_parquet": "§2B sinks (small-file compaction)",
}


def _py_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for base, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        out += [os.path.join(base, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _library_files() -> list[str]:
    return _py_files(os.path.join(REPO_ROOT, PACKAGE))


def _reference_files() -> list[str]:
    roots = ["tools", "perfbench", "bench.py", "__spark_entry__.py"]
    files = _library_files()
    for root in roots:
        path = os.path.join(REPO_ROOT, root)
        if os.path.exists(path):
            files += _py_files(path)
    return files


def _references_and_exports() -> tuple[set[str], set[str]]:
    refs: set[str] = set()
    exported: set[str] = set()
    for path in _reference_files():
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Name):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, ast.alias):
                refs.add(node.name.rsplit(".", 1)[-1])
            elif isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__"
                for t in node.targets
            ):
                exported |= {
                    c.value
                    for c in ast.walk(node.value)
                    if isinstance(c, ast.Constant) and isinstance(c.value, str)
                }
    return refs, exported


def _public_definitions() -> dict[str, str]:
    """Public top-level function/class name -> ``path:line``."""
    defs = {}
    for path in _library_files():
        for node in _parse(path).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                rel = os.path.relpath(path, REPO_ROOT)
                defs[node.name] = f"{rel}:{node.lineno}"
    return defs


def test_every_public_definition_is_reached_outside_tests():
    refs, exported = _references_and_exports()
    unreached = sorted(
        f"{where} {name}"
        for name, where in _public_definitions().items()
        if name not in refs and name not in exported and name not in ALLOWLIST
    )
    assert not unreached, (
        "public definitions only tests reach (delete them, or allowlist "
        "with the SURVEY row they serve):\n" + "\n".join(unreached)
    )


def test_allowlist_names_live_unreached_definitions():
    refs, exported = _references_and_exports()
    defs = _public_definitions()
    stale = sorted(
        name
        for name in ALLOWLIST
        if name not in defs or name in refs or name in exported
    )
    assert not stale, f"allowlist entries no longer needed: {stale}"
