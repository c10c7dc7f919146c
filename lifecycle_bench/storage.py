"""Table storage measured from outside, by directory listing.

Only data files count: names starting with ``.`` (checksums) or ``_``
(commit markers) are skipped.
"""

from __future__ import annotations

import os


def _files(root: str):
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")):
                yield os.path.join(d, n)


def snapshot(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every data file under ``root``."""
    out = {}
    for p in _files(root):
        st = os.stat(p)
        out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict[str, tuple[int, int]], root: str) -> int:
    """Bytes of the files under ``root`` that are new or changed since ``before``."""
    return sum(v[0] for p, v in snapshot(root).items() if before.get(p) != v)


def tree_stats(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``root``."""
    snap = snapshot(root)
    return sum(v[0] for v in snap.values()), len(snap)


def dir_bytes(root: str) -> int:
    return tree_stats(root)[0]
