"""One commit protocol for every published table: the streaming sinks'
dimension and CDC state, and the ETL runner's dimension and events.

Spark writes only into the staging dir beside the target
(`staging(target)`). `publish` then writes the table's state marker last
into that dir (`write_state`): the marker is the commit record. Then the
staged data is moved over the target, each old entry removed before its
rename, the marker last, and the staging dir removed.

What moves is either the whole table (`whole=True`, the sinks: the old
table is removed, the staging dir renamed in its place) or the staged
entries one by one (the runner's `_band=N` dirs and events part files),
leaving the target's other entries as they are. A target that does not
exist yet takes the staging dir whole by one rename (a first load).

`recover` is the only crash recovery. A staging dir that holds its marker
was committed: it is rolled forward, and every step of the roll-forward
finds its work done or still to do, so a crash inside a roll-forward is
rolled forward again. A staging dir without its marker was never
committed (a torn or half-written publish) and is deleted; the target is
then as the last commit left it. Call `recover` before anything reads the
target or tests whether it exists.
"""

from __future__ import annotations

import json
import os
import shutil


def staging(target: str) -> str:
    """The staging dir of `target`: beside it, so no reader of the target
    ever lists it."""
    return target + ".staging"


def write_state(path: str, state: dict) -> None:
    """Write a JSON state marker whole: to an underscore tmp file beside
    it, then `os.replace` over `path`, so a reader sees the old marker or
    the new one, never a torn file."""
    tmp = os.path.join(os.path.dirname(path), "_tmp" + os.path.basename(path))
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, path)


def _is_data(name: str) -> bool:
    """Spark's rule for the entries a table listing reads: no hidden or
    underscore name, save a partition dir (`_band=3`)."""
    return not name.startswith(".") and (not name.startswith("_") or "=" in name)


def publish(target: str, marker: str, state: dict, whole: bool = False) -> None:
    """Commit what was written into `staging(target)` with the state
    marker `marker` (a file name) holding `state`, and roll it forward.
    A publish with nothing staged commits the marker alone."""
    stage = staging(target)
    os.makedirs(stage, exist_ok=True)
    write_state(os.path.join(stage, marker), state)
    recover(target, marker, whole)


def recover(target: str, marker: str, whole: bool = False) -> None:
    """Roll forward a staging dir that holds its marker; delete one that
    does not. Idempotent, and a no-op without a staging dir."""
    stage = staging(target)
    if os.path.exists(os.path.join(stage, marker)):
        if whole and os.path.exists(target):
            shutil.rmtree(target)
        if not os.path.exists(target):
            os.rename(stage, target)
            return
        for name in sorted(os.listdir(stage)):
            if _is_data(name):
                dst = os.path.join(target, name)
                if os.path.isdir(dst):
                    shutil.rmtree(dst)
                os.rename(os.path.join(stage, name), dst)
        os.rename(os.path.join(stage, marker), os.path.join(target, marker))
    if os.path.isdir(stage):
        shutil.rmtree(stage)
