"""Re-record a golden JSON file and say what moved.

``rewrite_golden(path, rec, depth)`` prints every entry of ``rec`` that
was added, removed or changed against the file on disk, then writes
``rec`` there. An entry is a value ``depth`` dict levels down, named by
its key path (``merge/cuckoo12/plain/dedup=1``,
``shards/local/int_scalar/cuckoo/merged``). A changed entry that is a
dict lists each field that moved as ``field old -> new``, with digests
cut to 8 characters:

    changed merge/cuckoo12/victim/dedup=1: blob 1f0c2a9b -> 7d41e0c3, kicks 27110 -> 1657
"""

from __future__ import annotations

import json
import os


def _entries(tree: dict, depth: int, prefix: str = "") -> dict:
    out = {}
    for k, v in tree.items():
        name = f"{prefix}{k}"
        if depth > 1 and isinstance(v, dict):
            out.update(_entries(v, depth - 1, name + "/"))
        else:
            out[name] = v
    return out


def _show(v) -> str:
    if isinstance(v, str) and len(v) > 12:
        return v[:8]
    if isinstance(v, list) and len(v) > 3:
        return f"[{len(v)} items]"
    return str(v)


def _moved(old, new) -> str:
    if not (isinstance(old, dict) and isinstance(new, dict)):
        return f"{_show(old)} -> {_show(new)}"
    return ", ".join(
        f"{k} {_show(old.get(k))} -> {_show(new.get(k))}"
        for k in sorted(old.keys() | new.keys())
        if old.get(k) != new.get(k)
    )


def diff_lines(old: dict, new: dict, depth: int) -> list:
    """One line per added, removed or changed entry, in key order."""
    a, b = _entries(old, depth), _entries(new, depth)
    lines = []
    for name in sorted(a.keys() | b.keys()):
        if name not in a:
            lines.append(f"added   {name}")
        elif name not in b:
            lines.append(f"removed {name}")
        elif a[name] != b[name]:
            lines.append(f"changed {name}: {_moved(a[name], b[name])}")
    return lines


def rewrite_golden(path: str, rec: dict, depth: int) -> None:
    old = {}
    if os.path.exists(path):
        with open(path) as fh:
            old = json.load(fh)
    lines = diff_lines(old, rec, depth)
    for line in lines:
        print(line)
    print(f"{path}: {len(lines)} entries moved")
    with open(path, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
        fh.write("\n")
