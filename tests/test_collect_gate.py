"""Driver-collect scale gate (r6 judge item 2).

`embedding_hubness_knn` shipped r5–r6 with a corpus-proportional
``emb.select(...).collect()`` — correct at audit scale, the one
scale-killer class the window gate doesn't see (it gates windows, not
collects). This gate enumerates EVERY ``.collect()`` / ``.toPandas()``
site in the query/functions packages as a whitelist with a NAMED bound
(the window-scale-gate discipline: an enumerated whitelist, not
free-text justifications). A new collect site — or a new collect in a
whitelisted file — fails until it is consciously added here with its
bound; a removed site fails as stale so the list tracks reality.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "arkflow_spark"

# (relative path, expected .collect()/.toPandas() count, named bound)
ALLOWED = {
    "queries/analytics59_q.py": (
        1,
        "duels table: <= sources^2 rows (source pair Bradley-Terry)",
    ),
    "queries/analytics60_q.py": (1, "states^2 rows (Markov transition grid)"),
    "queries/analytics61_q.py": (1, "_MMR_SHORTLIST rows (fixed shortlist)"),
    "queries/analytics62_q.py": (1, "2^4 coalition rows (Shapley grid)"),
    "queries/analytics66_q.py": (1, "_EM_BINS rows (EM histogram grid)"),
    "queries/analytics67_q.py": (1, "one row of 21 counters"),
    "queries/dedup_q.py": (
        1,
        "one single-row agg scalar (label-signature convergence check)",
    ),
    "functions/indexes.py": (
        1,
        "SHOW TBLPROPERTIES: a handful of catalog rows",
    ),
    "functions/knn.py": (
        1,
        "one single-row sizing aggregate (largest part-group count)",
    ),
}

_PAT = re.compile(r"\.(collect|toPandas|toLocalIterator)\(\)")


def _scan() -> dict[str, int]:
    found: dict[str, int] = {}
    for sub in ("queries", "functions"):
        for path in sorted((PKG / sub).glob("*.py")):
            n = len(_PAT.findall(path.read_text()))
            if n:
                found[f"{sub}/{path.name}"] = n
    return found


def test_no_unsanctioned_driver_collects():
    found = _scan()
    extra = {
        k: v
        for k, v in found.items()
        if k not in ALLOWED or v > ALLOWED[k][0]
    }
    assert not extra, (
        "driver-side collect sites not in the whitelist (add ONLY with "
        f"a named corpus-independent bound): {extra}"
    )


def test_collect_whitelist_not_stale():
    found = _scan()
    stale = {
        k: ALLOWED[k][0]
        for k in ALLOWED
        if found.get(k, 0) < ALLOWED[k][0]
    }
    assert not stale, f"whitelisted collect sites no longer exist: {stale}"


def test_hubness_and_lof_have_no_collect():
    """The two r6-flagged queries stay converted (regression pin)."""
    for mod in ("queries/analytics64_q.py", "queries/analytics124_q.py"):
        assert not _PAT.search((PKG / mod.split("/", 1)[0] /
                                mod.split("/", 1)[1]).read_text()), mod
