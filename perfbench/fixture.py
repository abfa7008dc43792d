"""The benchmark's input: the grown fixture, seeded and cached per seed.

``tools/make_grown_fixture.py`` hard-codes its numpy seed (1234) and
reads its dimension tables and reference schemas from the sf0.1 test
data. This module runs that tool unchanged, with two substitutions on
the loaded module object:

- ``np.random.default_rng`` seeds the tool's one generator with the
  benchmark seed instead, so seed 1234 reproduces the tool's own output
  byte for byte;
- ``SRC`` points at ``perfbench/ref_sf0.1``, which holds the sf0.1
  ``region`` and ``nation`` tables and a zero-row copy of every other
  sf0.1 table. The tool's dimension copy and its schema-parity check
  run as written, without reading outside the checkout.

The tool's guard-band assertion (no embedding pair's cosine within 1e-9
of the 0.35 similarity threshold) also runs as written. When a seed
violates it, the build is repeated from the derived entropy
``[seed, attempt]``, the re-seed the tool's message asks for. The same
seed therefore always yields the same fixture.
"""
from __future__ import annotations

import importlib.util
import os
import shutil
import types
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
TOOL = ROOT / "tools" / "make_grown_fixture.py"
REF_SF01 = Path(__file__).resolve().parent / "ref_sf0.1"
CACHE = Path(__file__).resolve().parent / ".cache"

#: Fixture size as the tool's multiplier of sf0.1: 1 gives 0.61M lineitem
#: rows, 5k documents and 2k vectors, about 20 MB. Every run is a fresh JVM
#: that pays set-up, a JIT-cold pass, a warm-up pass and a check pass
#: beside the measured ones. At the tool's default of 10, one ``ingest``
#: pass alone takes about 25 s, more than a run's share of the time budget.
MULT = 1
#: Fixtures kept on disk; the oldest beyond this are deleted.
KEEP = 12
_GUARD_RETRIES = 4


class _SeededNumpy:
    """numpy, except that ``random.default_rng`` ignores its argument."""

    def __init__(self, entropy: list[int]):
        self.random = types.SimpleNamespace(
            default_rng=lambda _tool_seed: np.random.default_rng(entropy))

    def __getattr__(self, name: str):
        return getattr(np, name)


def _load_tool(entropy: list[int]) -> types.ModuleType:
    spec = importlib.util.spec_from_file_location("make_grown_fixture", TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    tool.np = _SeededNumpy(entropy)
    tool.SRC = str(REF_SF01)
    return tool


def build(seed: int, out_dir: Path) -> None:
    """Build the fixture for ``seed`` into ``out_dir``, unless complete."""
    if seed < 0:
        raise ValueError(f"seed must be non-negative, got {seed}")
    for attempt in range(_GUARD_RETRIES + 1):
        entropy = [seed] if attempt == 0 else [seed, attempt]
        try:
            _load_tool(entropy).build(str(out_dir), MULT)
            return
        except AssertionError as exc:
            if not str(exc).startswith("guard band violated"):
                raise
            shutil.rmtree(out_dir, ignore_errors=True)
    raise RuntimeError(f"seed {seed}: guard band violated on every re-seed")


def fixture_dir(seed: int) -> Path:
    """The cached fixture for ``seed``, built on first use."""
    if not TOOL.is_file():
        raise FileNotFoundError(f"fixture generator missing: {TOOL}")
    out = CACHE / f"grown_m{MULT}_seed{seed}"
    build(seed, out)
    os.utime(out)
    kept = sorted((d for d in CACHE.glob("grown_m*_seed*") if d.is_dir()),
                  key=lambda d: d.stat().st_mtime, reverse=True)
    for old in kept[KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return out
