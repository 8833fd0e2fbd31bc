"""Correctness checks of the benchmark, as pure functions.

Each returns ``None`` when the result is right and a one-line reason
when it is wrong, so the self-tests can feed them wrong results
without a Spark session.
"""

from __future__ import annotations

import hashlib


def canonical_digest(cols, rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    values canonicalized the way the registry's self-check does it
    (tools/selfcheck.py), rows sorted."""
    from selfcheck import frame_to_rows  # noqa: PLC0415

    names, canon = frame_to_rows(list(cols), [tuple(r) for r in rows])
    h = hashlib.sha256(repr(names).encode())
    for r in canon:
        h.update(repr(r).encode())
    return f"{len(canon)}:{h.hexdigest()}"


def check_query_result(got_digest: str, want_digest: str) -> str | None:
    if got_digest == want_digest:
        return None
    g_rows, w_rows = got_digest.split(":")[0], want_digest.split(":")[0]
    if g_rows != w_rows:
        return f"row count {g_rows} != oracle {w_rows}"
    return "values differ from the oracle"


def check_query_types(spark_dtypes, oracle_cols, oracle_types) -> str | None:
    from selfcheck import type_mismatches  # noqa: PLC0415

    bad = type_mismatches(spark_dtypes, oracle_cols, oracle_types)
    return ("column types differ from the oracle: " + " ".join(bad)) if bad else None


def check_fetch(rows, key: str, value, want_rows: int) -> str | None:
    """A keyed fetch must return exactly the rows stored under the key."""
    if len(rows) != want_rows:
        return f"fetch {key}={value!r}: {len(rows)} rows, expected {want_rows}"
    bad = [r for r in rows if r[key] != value]
    if bad:
        return f"fetch {key}={value!r}: returned rows of other keys"
    return None


def check_exists(got: bool, want: bool, what: str) -> str | None:
    return None if got == want else f"exists({what}) = {got}, expected {want}"


def check_readback(
    want: dict[str, set[tuple]], got: dict[str, set[tuple]]
) -> list[str]:
    """Every acknowledged row must read back, and nothing else may
    appear; one reason per table that differs."""
    out = []
    for table in sorted(want):
        w, g = want[table], got.get(table, set())
        missing, extra = w - g, g - w
        if missing or extra:
            out.append(
                f"{table}: {len(missing)} acknowledged rows missing, "
                f"{len(extra)} unexpected rows"
                + (f" (e.g. missing {sorted(missing)[0]!r})" if missing else "")
            )
    return out


def check_totals(want: dict[str, int], got: dict[str, int]) -> list[str]:
    """Registered totals must equal what the generator put in."""
    return [
        f"{k}: registered {got.get(k)}, generated {want[k]}"
        for k in sorted(want)
        if got.get(k) != want[k]
    ]


def check_violations(run: str, flagged: int, injected: int) -> str | None:
    """Validation must flag exactly the injected metadata errors."""
    if flagged == injected:
        return None
    return f"{run}: {flagged} violations flagged, {injected} injected"
