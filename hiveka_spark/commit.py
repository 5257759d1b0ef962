"""The commit protocol of every file-backed store.

A store is a directory of versions named ``<prefix><id>`` (``b3``, ``c7``,
``v12``, ``v=4``).  Its versions change only through this module:

- **Stage, mark, rename.**  A writer builds a new version under a staging
  path that no reader lists (:func:`staging_path`: ``_staging_<name>``
  beside the target), :func:`publish` writes the ``_SUCCESS`` marker
  inside the staged dir, then one atomic rename moves it to its target.
  :func:`write_version` does this for one version; :func:`staging` holds
  one staged write that publishes several, such as a Spark write
  partitioned by target store.  The rename is the commit point: before
  it the old state is whole, after it the new version is whole.
- **Readers see only marked dirs** (:func:`committed`).  A half-written
  dir, such as a crashed direct Spark write, has no marker and is never
  read.
- **Recover drops unmarked targets.**  :func:`publish` removes whatever
  sits at its target before the rename: a dir left unmarked by a crash,
  or the earlier publish of a replayed version.  A dir is removed by
  deleting its marker first, so a crash mid-delete never leaves a
  committed dir with files missing.
- **The fold** merges the live versions of a store into one ``c{top}``
  base, ``top`` being the highest id it folds, so ``c{top}`` holds every
  version ``<= top``.  It publishes ``c{top}`` first and deletes the
  inputs after.  A crash between the two leaves inputs that
  :func:`live` shadows (a reader that sums counts or ranks rows must
  never see a row twice), and the next fold finishes their deletes,
  and removes any dir below ``before`` a crash left unmarked, before it
  folds again (:func:`fold_inputs`).
- **The replay rule.**  An in-stream fold passes ``before = current batch
  id``, so the current batch's own version is never folded.  Folding it
  would name the base ``c{batch_id}``, and a checkpoint replay of that
  batch, whose prior reads take only ids below it, would find its
  predecessors gone.  The ``c`` prefix keeps the base clear of every
  future batch id.  An unbounded fold is safe only between cleanly
  terminated runs, where no replay can be pending.
- **Single files** (offsets, broker metadata, schema versions, commit
  markers) are written whole to a temporary name and renamed into place
  (:func:`write_json`), so a file is committed once it exists.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager

MARKER = "_SUCCESS"


def is_committed(path: str) -> bool:
    """A dir is committed once it holds the marker, a file once it exists."""
    return os.path.isfile(path) or os.path.isfile(os.path.join(path, MARKER))


def version_id(path: str) -> int:
    """The ``<id>`` of a ``<prefix><id>`` store entry."""
    name = os.path.basename(path)
    return int(name[len(name.rstrip("0123456789")):])


def _entries(root: str, before: int | None, prefixes: tuple[str, ...]) -> list[str]:
    try:
        names = sorted(os.listdir(root))
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        head = n.rstrip("0123456789")
        if head in prefixes and head != n and (before is None or version_id(n) < before):
            out.append(os.path.join(root, n))
    return out


def committed(
    root: str, before: int | None = None, prefixes: tuple[str, ...] = ("b", "c")
) -> list[str]:
    """Paths of the committed ``<prefix><id>`` entries of ``root`` with
    ``id < before``, in name order; ``[]`` when ``root`` does not exist."""
    return [p for p in _entries(root, before, prefixes) if is_committed(p)]


def live(root: str, before: int) -> list[str]:
    """:func:`committed` ``b``/``c`` dirs minus those already folded: every
    dir with an id at or below the newest committed ``c{id}`` is dropped,
    except that ``c{id}`` itself."""
    dirs = committed(root, before)
    bases = [version_id(d) for d in dirs if os.path.basename(d).startswith("c")]
    if not bases:
        return dirs
    top = max(bases)
    return [
        d for d in dirs
        if version_id(d) > top or os.path.basename(d) == f"c{top}"
    ]


def remove(path: str) -> None:
    """Delete the version dir ``path``, its marker first."""
    try:
        os.remove(os.path.join(path, MARKER))
    except FileNotFoundError:
        pass
    shutil.rmtree(path, ignore_errors=True)


def publish(staged: str, target: str) -> None:
    """Mark ``staged`` and rename it to ``target``, replacing what is there."""
    open(os.path.join(staged, MARKER), "w").close()
    if os.path.isdir(target):
        remove(target)
    os.rename(staged, target)


def staging_path(target: str) -> str:
    """Where ``target`` is staged: ``_staging_<name>`` beside it, a name
    no listing of this module matches."""
    root, name = os.path.split(target)
    return os.path.join(root, f"_staging_{name}")


def write_version(target: str, write: Callable[[str], None]) -> None:
    """Publish one version: ``write(staged)`` builds it at the
    :func:`staging_path` of ``target``, then :func:`publish` moves it into
    place."""
    staged = staging_path(target)
    write(staged)
    publish(staged, target)


@contextmanager
def staging(target: str) -> Iterator[str]:
    """The :func:`staging_path` of ``target`` for a block that publishes
    parts of it: a crashed predecessor's staged dir is removed before the
    block, and whatever the block left unpublished is removed after it."""
    staged = staging_path(target)
    shutil.rmtree(staged, ignore_errors=True)
    yield staged
    shutil.rmtree(staged, ignore_errors=True)


def fold_inputs(root: str, before: int) -> list[str]:
    """Remove every ``b``/``c`` dir below ``before`` that is not live (the
    inputs of a crashed fold, and dirs a crash left unmarked), then return
    the live dirs the next fold merges, or ``[]`` when fewer than two are
    live."""
    dirs = live(root, before)
    for d in set(_entries(root, before, ("b", "c"))) - set(dirs):
        remove(d)
    return dirs if len(dirs) > 1 else []


def publish_fold(staged: str, inputs: list[str]) -> None:
    """Publish the merged copy of ``inputs`` as ``c{top}`` next to them,
    then delete the inputs.  No input is that target: a committed
    ``c{top}`` would have shadowed every other input."""
    top = max(version_id(d) for d in inputs)
    publish(staged, os.path.join(os.path.dirname(inputs[0]), f"c{top}"))
    for d in inputs:
        remove(d)


def fold(
    root: str, before: int, write: Callable[[list[str], str], None]
) -> None:
    """Fold the live dirs of ``root`` below ``before`` into one ``c{top}``:
    ``write(inputs, staged)`` writes their merged copy to ``staged``."""
    inputs = fold_inputs(root, before)
    if inputs:
        staged = staging_path(os.path.join(root, "fold"))
        write(inputs, staged)
        publish_fold(staged, inputs)


def write_json(path: str, obj) -> None:
    """Write ``obj`` as JSON to ``path`` atomically."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, sort_keys=True)
    os.replace(tmp, path)
