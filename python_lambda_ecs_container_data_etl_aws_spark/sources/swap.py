"""Crash-safe directory swap — the one replacement, package-wide, for
the reference's transactional temp→permanent move (`2.2
loading-lambda-for-mysql.py:267-316`, where MySQL makes the step
atomic), behind ``recorded.install``, which installs every table the
package rewrites in place.

Protocol: write the dot-prefixed sibling ``.<name>__staging``, rename
the live dir aside to ``.<name>__old``, rename staging in, drop the
aside. Each rename is atomic, so a crash leaves the data old or new,
never lost:

- before rename-aside: live holds the old data;
- between the renames: live is missing, the aside holds the old data;
- after rename-in: live holds the new data, a stale aside lingers.

:func:`heal` covers all three with one rule: live missing → restore
the aside; live present → drop the aside. Staging and aside are
dot-prefixed because Spark's file index skips '.'/'_'-prefixed paths:
a leftover is invisible to partition discovery (an audit-log day sits
in a partitioned dir), where an un-prefixed one would parse as a
malformed partition value and fail every later read.

Single maintainer: only a table's maintenance entry points heal it,
with no exception. A reader healing mid-swap would restore an aside
the maintainer is about to replace, so readers list leftovers with
:func:`stranded_asides` and warn instead.
"""

from __future__ import annotations

import os
import shutil

_ASIDE_SUFFIX = "__old"


def aside(path: str) -> str:
    """The aside name of ``path``: its dot-prefixed ``__old`` sibling."""
    parent, name = os.path.split(os.path.abspath(path))
    return os.path.join(parent, f".{name}{_ASIDE_SUFFIX}")


def staging(path: str) -> str:
    """The staging name of ``path``: its dot-prefixed ``__staging`` sibling."""
    parent, name = os.path.split(os.path.abspath(path))
    return os.path.join(parent, f".{name}__staging")


def heal(path: str) -> None:
    """Restore-or-scrub the aside of ``path`` left by a crashed swap."""
    old = aside(path)
    if not os.path.isdir(old):
        return
    if os.path.isdir(path):
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(old, path)


def heal_children(parent: str) -> None:
    """:func:`heal` every partition child of ``parent`` that has an
    aside — all of them, not just the ones the next swap touches."""
    if not os.path.isdir(parent):
        return
    for entry in os.listdir(parent):
        if entry.startswith(".") and entry.endswith(_ASIDE_SUFFIX):
            heal(os.path.join(parent, entry[1 : -len(_ASIDE_SUFFIX)]))


def swap(staging: str, path: str) -> None:
    """Swap ``staging`` in as ``path`` — a whole table dir, or one
    partition child of one. Heals an earlier crash of the same swap
    first."""
    heal(path)
    old = aside(path)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


def swap_children(staging_dir: str, parent: str, prefix: str) -> int:
    """Swap every ``prefix``-named partition child of ``staging_dir``
    in as the same-named child of ``parent``, then drop
    ``staging_dir``. Each child flips on its own; children of
    ``parent`` that staging does not hold are left alone. Returns the
    number of children swapped."""
    os.makedirs(parent, exist_ok=True)
    n = 0
    for entry in sorted(os.listdir(staging_dir)):
        if entry.startswith(prefix):
            swap(os.path.join(staging_dir, entry), os.path.join(parent, entry))
            n += 1
    shutil.rmtree(staging_dir, ignore_errors=True)
    return n


def stranded_asides(path: str) -> list[str]:
    """Crash leftovers of swaps of ``path`` or of its children — the
    sibling aside and every aside child — without changing anything on
    disk. Non-empty means reads of ``path`` may be partial until the
    next maintenance call heals it."""
    old = aside(path)
    out = [old] if os.path.isdir(old) else []
    if os.path.isdir(path):
        out += [
            os.path.join(path, e)
            for e in sorted(os.listdir(path))
            if e.startswith(".") and e.endswith(_ASIDE_SUFFIX)
        ]
    return out
