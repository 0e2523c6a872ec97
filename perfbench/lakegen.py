"""Seeded DTPM-shaped raw batch for the benchmark.

The column recipes are the ones ``scripts/gen_scale_lake.py`` uses for
its scale lakes (pipe-CSV + ``_meta.json`` per cut, defects planted at
the reference's published per-reason quarantine rates).  That script
derives every pseudo-random column from ``hash(i * salt)``, so all its
outputs are identical; here each (seed, cut) pair mixes its own offset
into that hash, which changes every value column while leaving the
planted-defect row selection — and so the planted counts — intact.

A batch is the week the lakehouse ingests: ``n_daily`` daily viajes
cuts, one weekly etapas cut and one monthly subidas cut, listed in
arrival order.  ``Batch.expected_quarantine`` is what the silver layer's
``quality.json`` must report for each cut.
"""

from __future__ import annotations

import contextlib
import hashlib
import sys
from dataclasses import dataclass, field
from datetime import date, timedelta
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

import gen_scale_lake as recipes  # noqa: E402

FIRST_DAY = date(2025, 4, 21)  # a Monday: the etapas week starts here
ETAPAS_CUT = "2025-04-21_2025-04-27"
SUBIDAS_CUT = "2025-04"


@dataclass(frozen=True)
class Cut:
    dataset: str  # viajes | etapas | subidas_30m
    cut: str
    rows: int
    partition_dir: Path
    expected_quarantine: dict[str, int] = field(default_factory=dict)

    @property
    def raw_bytes(self) -> int:
        return sum(p.stat().st_size for p in self.partition_dir.glob("*.csv"))


@dataclass(frozen=True)
class Batch:
    root: Path
    cuts: tuple[Cut, ...]

    @property
    def raw_rows(self) -> int:
        return sum(c.rows for c in self.cuts)

    @property
    def raw_bytes(self) -> int:
        return sum(c.raw_bytes for c in self.cuts)

    def digest(self) -> str:
        """sha256 over every generated file, in path order."""
        h = hashlib.sha256()
        for p in sorted(self.root.rglob("*")):
            if p.is_file():
                h.update(str(p.relative_to(self.root)).encode())
                h.update(p.read_bytes())
        return h.hexdigest()


@contextlib.contextmanager
def _seeded_hash(offset: int):
    """Route the recipes' per-row hash through ``offset``."""
    saved = recipes.R
    recipes.R = "(hash(i * {salt} + " + str(offset) + ") % {mod})"
    try:
        yield
    finally:
        recipes.R = saved


def _offset(seed: int, stream: int) -> int:
    # large odd multipliers keep (seed, stream) pairs far apart
    return (seed * 1_000_003 + stream * 7_919) % (1 << 40)


def generate(
    root: Path,
    seed: int,
    n_daily: int,
    viajes_rows: int,
    etapas_rows: int,
    subidas_rows: int,
) -> Batch:
    """Write the raw batch under ``root/raw/dtpm`` and describe it."""
    root = Path(root)
    con = duckdb.connect()
    con.execute("SET threads TO 1")  # same bytes whatever the box
    cuts: list[Cut] = []
    for d in range(n_daily):
        day = (FIRST_DAY + timedelta(days=d)).isoformat()
        with _seeded_hash(_offset(seed, d)):
            pdir = recipes.gen_viajes(con, root, viajes_rows, day)
        cuts.append(
            Cut("viajes", day, viajes_rows, pdir,
                recipes.expected_quarantine("viajes", viajes_rows))
        )  # fmt: skip
    with _seeded_hash(_offset(seed, 100)):
        pdir = recipes.gen_etapas(con, root, etapas_rows)
    cuts.append(
        Cut("etapas", ETAPAS_CUT, etapas_rows, pdir,
            recipes.expected_quarantine("etapas", etapas_rows))
    )  # fmt: skip
    with _seeded_hash(_offset(seed, 200)):
        pdir = recipes.gen_subidas(con, root, subidas_rows)
    cuts.append(
        Cut("subidas_30m", SUBIDAS_CUT, subidas_rows, pdir,
            recipes.expected_quarantine("subidas_30m", subidas_rows))
    )  # fmt: skip
    con.close()
    return Batch(root, tuple(cuts))
