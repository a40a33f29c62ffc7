"""The benchmark's workloads: which declared entries each one times.

Every entry of `e02_spark.queries.all_queries()` belongs to exactly one
layer group, named after the layer that does its work (README.md gives the
reasons). A workload times a fixed subset of its group, chosen so that all
runs the benchmark is given fit its time budget; the rest of the group is
listed under `untimed` so that the partition stays checkable. A group with
nothing timed is not a runnable workload.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    timed: tuple[str, ...]
    untimed: tuple[str, ...]
    # untimed passes before timing starts: enough that the timed passes
    # run no slower than the ones after them
    warm_up_passes: int = 1

    @property
    def group(self) -> tuple[str, ...]:
        return self.timed + self.untimed


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "warehouse",
            # not run: see README.md, "Workloads"
            timed=(),
            untimed=(
                "q01", "q02", "q05", "q07", "q08", "q09", "q11", "q13",
                "q14", "q16", "q17", "q19", "q22", "q23", "q24", "q30",
                "q43", "q45", "q55", "q64", "q65", "q66", "q67", "q68",
                "q76",
            ),
        ),
        Workload(
            "curation",
            timed=("q26", "q46", "q53", "q62", "q90", "q93"),
            untimed=(
                "q27", "q29", "q31", "q32", "q34", "q36", "q41", "q49",
                "q69", "q74", "q77", "q79", "q81", "q83", "q92", "q98",
            ),
            # after one warm-up pass the next pass still ran 10-35% slower
            # than the one after it
            warm_up_passes=2,
        ),
        Workload(
            "lakehouse",
            timed=("q116",),
            untimed=("q86", "q95"),
        ),
    )
}


def runnable() -> list[str]:
    """Names of the workloads that time at least one entry."""
    return [name for name, w in WORKLOADS.items() if w.timed]


def resolve(short: tuple[str, ...], names: list[str]) -> list[str]:
    """Map `qNN` prefixes to the full declared entry names."""
    by_prefix = {n.split("_", 1)[0]: n for n in names}
    missing = [s for s in short if s not in by_prefix]
    if missing:
        raise KeyError(f"entries not declared by the engine: {missing}")
    return [by_prefix[s] for s in short]


def check_partition(names: list[str]) -> None:
    """Raise unless the groups partition the declared entries exactly."""
    prefixes = sorted(n.split("_", 1)[0] for n in names)
    grouped = sorted(p for w in WORKLOADS.values() for p in w.group)
    if grouped != prefixes:
        extra = sorted(set(grouped) - set(prefixes))
        absent = sorted(set(prefixes) - set(grouped))
        dup = sorted({p for p in grouped if grouped.count(p) > 1})
        raise ValueError(
            f"workload groups must partition all_queries(): not declared "
            f"{extra}, in no group {absent}, in two groups {dup}"
        )
