"""Seeded benchmark inputs, cached on disk under ``perfbench/.cache``.

Two inputs:

- the interleaved-span fixture, a pure function of the seed: ``N_DOCS``
  documents from the engine's own generator
  (``sources.fixtures.make_doc``), split into ``N_PARTS`` equal parts as
  ``part_of_index`` deals them. ``extract`` reads them all; the first
  ``N_WAVES`` parts are the waves of the ``waves`` workload. Its cache
  is keyed by ``(n_docs, parts, seed)``; an entry is complete once its
  ``_READY`` marker exists;
- the battery tables: a copy of the sf0.01 parquet tables the query
  tests and ``tools/check_oracles`` use, committed under
  ``perfbench/tables`` so that a run reads nothing outside its
  checkout. They do not depend on the seed.
"""

import functools
import itertools
import random
import shutil
from pathlib import Path
from types import MappingProxyType

import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
CACHE = HERE / ".cache"
BATTERY_TABLES = HERE / "tables" / "sf0.01"

N_DOCS = 4_000
N_PARTS = 16
N_WAVES = 12

_READY = "_READY"


def _ready(path: Path) -> bool:
    return (path / _READY).exists()


def _mark_ready(path: Path) -> None:
    (path / _READY).write_text("ok\n")


# -- span fixture --------------------------------------------------------


def _is_giant(i: int) -> bool:
    """The fixture's 0.3-1M-char straggler documents (``make_doc``)."""
    return i % 997 == 7


def _kept(i: int) -> bool:
    """All but the generator's one giant whose reference block is three
    times its body (index 2998): at 2.8M chars it alone would set the
    time of the task it lands in, three times a task's share."""
    return not (_is_giant(i) and i % 29 == 11)


DOC_INDICES = tuple(itertools.islice(filter(_kept, itertools.count()),
                                     N_DOCS))


@functools.lru_cache(maxsize=4)
def part_of_index(seed: int):
    """Document index -> part number: ``N_PARTS`` equal parts.

    The giants go one to a part from the last part down, so the waves
    hold none: a single giant would otherwise decide a wave's time. All
    other documents are dealt by a seeded shuffle.
    """
    giants = [i for i in DOC_INDICES if _is_giant(i)]
    rest = [i for i in DOC_INDICES if not _is_giant(i)]
    random.Random(seed).shuffle(rest)
    per = N_DOCS // N_PARTS
    part = {i: N_PARTS - 1 - j for j, i in enumerate(giants)}
    free = [per] * N_PARTS
    free[-1] += N_DOCS - per * N_PARTS
    for p in part.values():
        free[p] -= 1
    slots = [p for p in range(N_PARTS) for _ in range(free[p])]
    part.update(zip(rest, slots))
    return MappingProxyType(part)


def make_doc(i: int, seed: int) -> tuple:
    """Document ``i`` of the fixture for ``seed``: ``(doc_id, spans)``.

    The giants come from the generator's default seed whatever the
    run's seed. They hold a third of the characters and each runs as
    one long task, so sizes that moved with the seed (0.4-1M chars
    each) would move ``extract``'s time by a tenth from seed to seed.
    """
    from zzzarchived_arxiv_fulltext_spark.sources import fixtures

    return fixtures.make_doc(i, fixtures.DEFAULT_SEED if _is_giant(i)
                             else seed)


def span_fixture(seed: int) -> tuple:
    """Write (or find) the fixture; returns ``(dir, was_cached)``.

    ``dir/parts/part=<k>`` holds part ``k``; reading such a directory
    directly yields the engine's input schema ``(doc_id, spans)``. The
    rows are the engine generator's, written with pyarrow on the
    driver: a Spark write of the same rows costs a cold run several
    seconds more, and almost every run of the benchmark has a new seed.
    """
    from pyspark.sql.pandas.types import to_arrow_schema

    from zzzarchived_arxiv_fulltext_spark.schema import INPUT_SCHEMA

    root = CACHE / f"spans-n{N_DOCS}-p{N_PARTS}-s{seed}"
    if _ready(root):
        return root, True
    shutil.rmtree(root, ignore_errors=True)
    schema = to_arrow_schema(INPUT_SCHEMA)
    for k in range(N_PARTS):
        rows = [make_doc(i, seed) for i in indices_in_parts(seed, [k])]
        out = root / "parts" / f"part={k}"
        out.mkdir(parents=True)
        pq.write_table(pa.Table.from_pylist(
            [{"doc_id": d, "spans": spans} for d, spans in rows],
            schema=schema), out / "part-0.parquet")
    _mark_ready(root)
    return root, False


def make_doc_id(i: int) -> str:
    """The doc_id ``sources.fixtures.make_doc`` gives document ``i``."""
    return f"cs/{i:07d}" if i % 7 == 0 else f"{2001 + i % 24:04d}.{i:06d}"


def part_dirs(root: Path, parts) -> list:
    return [str(root / "parts" / f"part={k}") for k in parts]


def indices_in_parts(seed: int, parts) -> list:
    wanted = set(parts)
    return sorted(i for i, p in part_of_index(seed).items() if p in wanted)
