"""Independent oracle for the CDC benchmark.

Computes, from the raw change log alone (pyarrow + pandas, no Spark and no
engine code), what the lake table must hold after a replay: per key the
max-LSN winner, deletes removed, ``lang`` normalized and ``content``
canonicalized with its sha256. The rules are written out again here on
purpose, so an engine bug in ``functions.text`` or ``cdc.dedup`` cannot
also sit in the check.
"""

from __future__ import annotations

import hashlib

import pandas as pd

KEY = ("repo", "path")

_LANG = {
    "py": "python", "py3": "python", "python3": "python", "python": "python",
    "scala": "scala", "sc": "scala", "java": "java", "go": "go", "golang": "go",
    "rust": "rust", "rs": "rust", "markdown": "markdown", "md": "markdown",
    "mdown": "markdown", "unknown": "unknown",
}


def canonical_sha(content: str) -> str:
    """sha256 of canonical text: CRLF/CR to LF, trailing blanks stripped per
    line and at the end, exactly one trailing newline."""
    t = content.replace("\r\n", "\n").replace("\r", "\n")
    t = "\n".join(line.rstrip(" \t") for line in t.split("\n")).rstrip(" \t\n")
    return hashlib.sha256((t + "\n").encode("utf-8")).hexdigest()


def winners(events: pd.DataFrame) -> pd.DataFrame:
    """Last writer per key (duplicate deliveries share an LSN and a row)."""
    ev = events.sort_values("lsn", kind="stable")
    return ev.drop_duplicates(list(KEY), keep="last")


def expected_row(rec) -> tuple:
    """The (lsn, lang, content_sha256) a live winner must read back as."""
    lang = _LANG.get(str(rec.lang).strip().lower(), "unknown")
    return (int(rec.lsn), lang, canonical_sha(rec.content))


def final_state(live: pd.DataFrame) -> dict[tuple, tuple]:
    """{(repo, path): (lsn, lang, content_sha256)} from the live winners
    (``winners`` minus deletes, with their ``content`` attached)."""
    return {(r.repo, r.path): expected_row(r) for r in live.itertuples(index=False)}


def state_of(rows) -> dict[tuple, tuple]:
    """The same shape from engine rows (repo, path, lsn, lang, content_sha256)."""
    return {(r[0], r[1]): (int(r[2]), r[3], r[4]) for r in rows}


def mismatches(expected: dict, actual: dict) -> int:
    """Keys missing, extra, or holding a different value."""
    keys = expected.keys() | actual.keys()
    return sum(1 for k in keys if expected.get(k) != actual.get(k))
