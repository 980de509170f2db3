"""On-disk format of one store item — the only code that knows it.

An item is a directory ``items/KEY`` of Parquet files bucketed into
``_oak_year=YYYY`` year directories, under one of two commit protocols:

- **rename**: the year dirs sit directly in the item dir. A mutation
  stages its replacement year dirs in a hidden sibling and publishes by
  swapping them in (:func:`swap_in`). Such items have version 0.
- **manifest**: every mutation writes a fresh immutable generation
  ``_data/<gen>/_oak_year=YYYY`` and publishes one
  ``_manifests/vNNNNNNNN.json`` document (``manifest-v1``) that maps each
  year to its live generation dir (:func:`write_manifest`). The latest
  version is the truth; superseded generations stay on disk until vacuum.

An item self-describes its protocol by the presence of ``_manifests/``.
Plain Python and the standard library only, so the Spark DataSource's
executor-side code can use it too.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path

MANIFESTS_DIR = "_manifests"
DATA_DIR = "_data"
PARTITION_COL = "_oak_year"
SWAP_PLAN = "_swap.json"  # rename protocol: the years a staged swap replaces
_SWAP_TRASH = "_trash"  # rename protocol: live year dirs swapped out


def year_dir_name(year) -> str:
    return f"{PARTITION_COL}={year}"


def year_of(year_dir: Path) -> str:
    """The year of a ``_oak_year=YYYY`` directory."""
    prefix, _, year = year_dir.name.partition("=")
    if prefix != PARTITION_COL:
        raise ValueError(f"not a {PARTITION_COL} directory: {year_dir}")
    return year


def year_dirs(root: Path) -> dict[str, Path]:
    """{year: dir} of the year directories directly under ``root``."""
    return {year_of(d): d for d in sorted(root.glob(f"{PARTITION_COL}=*"))}


def generation_dir(item: Path, gen: str) -> Path:
    return item / DATA_DIR / gen


def is_manifest_item(item: Path) -> bool:
    return (item / MANIFESTS_DIR).is_dir()


def manifest_path(item: Path, version: int) -> Path:
    return item / MANIFESTS_DIR / f"v{version:08d}.json"


def versions(item: Path) -> list[int]:
    """Committed manifest versions present on disk (none for rename items)."""
    return sorted(int(p.stem[1:]) for p in (item / MANIFESTS_DIR).glob("v*.json"))


def read_manifest(item: Path, version: int) -> dict:
    """The manifest document of ``version``; FileNotFoundError if it was
    never committed or has been vacuumed."""
    return json.loads(manifest_path(item, version).read_text())


def live_year_dirs(item: Path) -> tuple[int, dict[str, str]]:
    """(version, {year: live dir relative to ``item``}) — the one resolver
    every read and every mutation starts from. Manifest items resolve the
    latest manifest (ValueError if none was committed); rename items are
    version 0 with their year dirs in place."""
    if not is_manifest_item(item):
        return 0, {y: d.name for y, d in year_dirs(item).items()}
    vs = versions(item)
    if not vs:
        raise ValueError(f"no committed manifest under {item}")
    return vs[-1], read_manifest(item, vs[-1])["years"]


def put_if_absent(target: Path, doc: dict) -> None:
    """Create ``target`` holding ``doc`` as JSON, atomically, or raise
    FileExistsError if it already exists. ``os.link`` from a fully written
    temp file never replaces an existing target (a rename would), so of two
    writers racing for one name exactly one wins — on object storage this is
    a conditional PUT (If-None-Match: *)."""
    tmp = target.with_name(f".{target.name}.{uuid.uuid4().hex}.tmp")
    tmp.write_text(json.dumps(doc, sort_keys=True))
    try:
        os.link(tmp, target)
    finally:
        tmp.unlink(missing_ok=True)


def write_manifest(
    item: Path,
    version: int,
    years: dict[str, str],
    operation: str,
    txn: str | None = None,
) -> None:
    """Publish manifest ``version`` mapping each year to its live dir — the
    manifest protocol's commit point. FileExistsError if another writer
    already published this version."""
    (item / MANIFESTS_DIR).mkdir(exist_ok=True)
    doc = {
        "protocol": "manifest-v1",
        "version": version,
        "years": years,
        "operation": operation,
        "committed_at": time.time(),
    }
    if txn is not None:
        doc["txn"] = txn
    put_if_absent(manifest_path(item, version), doc)


def swap_in(item: Path, stage: Path, years: list[str]) -> None:
    """Rename-protocol publish: replace each of ``years`` in ``item`` by the
    year dir staged under ``stage``, or drop it if none was staged. The plan
    is written into ``stage`` before the first rename, so a swap cut short
    by a crash is completed by :func:`finish_swap` instead of losing the
    year that was moved out but not yet replaced. The plan names each live
    year dir by inode, so a dir published after it is never swapped out."""
    live = {y: item / year_dir_name(y) for y in years}
    plan = {y: d.stat().st_ino if d.exists() else None for y, d in live.items()}
    put_if_absent(stage / SWAP_PLAN, {"years": plan})
    finish_swap(item, stage)


def finish_swap(item: Path, stage: Path) -> None:
    """Run (or re-run) the swap planned in ``stage``, then remove ``stage``.
    Idempotent per year: the planned live dir leaves only while no
    swapped-out copy exists yet, and a staged dir moves in only while it is
    still staged. RuntimeError, moving nothing more, if the year's live dir
    is no longer the one the plan saw: a later mutation published over a
    half-done swap, and replaying it would lose that mutation's rows."""
    years = json.loads((stage / SWAP_PLAN).read_text())["years"]
    trash = stage / _SWAP_TRASH
    trash.mkdir(exist_ok=True)
    for year, ino in sorted(years.items()):
        name = year_dir_name(year)
        live, old, staged = item / name, trash / name, stage / name
        if ino is not None and not old.exists():
            if not live.exists() or live.stat().st_ino != ino:
                raise _stale_swap(item, stage, year)
            os.rename(live, old)
        if staged.exists():
            if live.exists():
                raise _stale_swap(item, stage, year)
            os.rename(staged, live)
    # the plan goes first: a stage without one is never re-run
    (stage / SWAP_PLAN).unlink()
    shutil.rmtree(stage)


def _stale_swap(item: Path, stage: Path, year: str) -> RuntimeError:
    return RuntimeError(
        f"cannot finish the swap staged in {stage}: year {year} of {item} "
        "was replaced after the swap was planned; the stage holds rows "
        "that were never published — inspect it, then remove it"
    )
