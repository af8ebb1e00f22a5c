"""Output checks, run untimed after each request.

The run-0 explanation of every label is recomputed with the repository's
single-node oracle (``tests/oracle_pandas.py``) on the same generated
inputs; each check returns a list of problems, empty when the output is
right.
"""

from __future__ import annotations

from collections import Counter

from tests import oracle_pandas as oracle


def oracle_explanation(
    rows: dict[int, list[float]], features: list[str], label: tuple
) -> list[int]:
    """Feature positions the reference pipeline keeps for one label:
    reward per feature over ref ``[ref_start, ref_end)`` (class 0) and ano
    ``[ano_start, ano_end]`` (class 1), ranked desc with stable ties on
    column order, then the leap filter."""
    _, _, _, ref_start, ref_end, ano_start, ano_end = label
    picked = []
    for ts in sorted(rows):
        if ref_start <= ts < ref_end:
            picked.append((rows[ts], 0))
        if ano_start <= ts <= ano_end:
            picked.append((rows[ts], 1))
    classes = [c for _, c in picked]
    rewards = [
        (i, oracle.reward([vals[i] for vals, _ in picked], classes, "sorted"))
        for i in range(len(features))
    ]
    ordered = sorted(rewards, key=lambda t: -t[1])
    kept = oracle.leap_filter([(str(i), r) for i, r in ordered])
    return [int(i) for i in kept]


def ano_key(label_row: int, label: tuple) -> str:
    trace_id, _, ano_type = label[:3]
    return f"{ano_type}_{trace_id}_{label_row}"


def check_labels_once(name: str, out_rows, labels: list[tuple]) -> list[str]:
    """Every label appears in ``out_rows`` exactly once, and nothing else."""
    want = {ano_key(i, lab) for i, lab in enumerate(labels)}
    got = Counter(r["ano_key"] for r in out_rows)
    problems = [
        f"{name}: label {k} appears {got.get(k, 0)} times"
        for k in sorted(want)
        if got.get(k, 0) != 1
    ]
    problems += [f"{name}: unexpected row {k}" for k in sorted(set(got) - want)]
    return problems


def check_against_oracle(
    name: str,
    out_rows,
    labels: list[tuple],
    rows_by_trace: dict[str, dict[int, list[float]]],
    features: list[str],
) -> list[str]:
    by_key = {r["ano_key"]: r for r in out_rows}
    problems = []
    for i, lab in enumerate(labels):
        row = by_key.get(ano_key(i, lab))
        if row is None:
            continue  # reported by check_labels_once
        want = oracle_explanation(rows_by_trace[lab[0]], features, lab)
        got = list(row["explanation"])
        if got != want or row["exp_size"] != len(want):
            problems.append(
                f"{name}: {row['ano_key']} explanation {got} "
                f"(exp_size {row['exp_size']}), oracle {want}"
            )
    return problems


def check_absent(name: str, out_rows, position: int, why: str) -> list[str]:
    return [
        f"{name}: {r['ano_key']} keeps feature {position} ({why})"
        for r in out_rows
        if position in r["explanation"]
    ]
