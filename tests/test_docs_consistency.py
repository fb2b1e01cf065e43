"""Docs-to-registry consistency: every query name the docs claim exists
must actually be registered (stale doc references are how coverage maps
rot), and the driver-facing ordering lists must stay duplicate-free."""

from __future__ import annotations

import hashlib
import re
from pathlib import Path

from cassandra_snap_to_hadoop_spark.queries import _ROUND11_PRIORITY
from cassandra_snap_to_hadoop_spark.registry import load_all

REPO = Path(__file__).resolve().parents[1]
REGISTRY = load_all()

# Names like a12_partitioned_discovery / j2_minhash_lsh_pairs / tpch_q8_...
_NAME_RE = re.compile(r"\b((?:[a-l]|sql_api|tpch|llm|flagship)[0-9]*_[a-z0-9_]{3,})\b")

# Doc tokens that look like query names but are prose/file references.
_ALLOW = {
    "a_la", "b_tree",  # prose fragments (none currently, reserved)
    "flagship_snapshot_star",  # registered — listed for clarity
}


def _doc_names(path: Path) -> set[str]:
    text = path.read_text()
    names = set()
    for m in _NAME_RE.finditer(text):
        n = m.group(1)
        # Keep only plausible registered-query shapes: a known prefix and
        # at least one underscore-separated word after the family code.
        if n in REGISTRY or re.match(r"^(?:[a-l]\d+|sql_api|tpch_q\d+|llm|flagship)_", n):
            names.add(n)
    return names


def test_status_md_references_only_registered_queries():
    stale = {
        n
        for n in _doc_names(REPO / "STATUS.md")
        if n not in REGISTRY and n not in _ALLOW
        # file/module references like queries/llm.py show up without .py here
        and not n.endswith((".py", "_py"))
    }
    assert not stale, f"STATUS.md references unregistered query names: {sorted(stale)}"


def test_next_md_references_only_registered_queries():
    stale = {
        n for n in _doc_names(REPO / "NEXT.md") if n not in REGISTRY and n not in _ALLOW
    }
    assert not stale, f"NEXT.md references unregistered query names: {sorted(stale)}"


def test_ordering_lists_are_duplicate_free_and_registered():
    combined = list(_ROUND11_PRIORITY)
    assert len(combined) == len(set(combined)), "duplicate names in ordering lists"
    missing = [n for n in combined if n not in REGISTRY]
    assert not missing, missing


# sha256 of the full registry order ("\n".join of the names).  The
# driver's sweep walks this order, so it changes only in a commit that
# intentionally adds or reorders queries — update the digest there.
_REGISTRY_ORDER_SHA256 = "2aaac0a32b8cf253d8edd5cc022a6317bb042051ecda02cc1a6ed6676f27abfc"


def test_registry_order_is_pinned():
    assert len(REGISTRY) == 525
    digest = hashlib.sha256("\n".join(REGISTRY).encode()).hexdigest()
    assert digest == _REGISTRY_ORDER_SHA256, (
        "registry order changed — if intentional, update _REGISTRY_ORDER_SHA256"
    )


def test_status_totals_match_registry():
    """The current-round totals line in STATUS.md must be GENERATED from
    the registry, not hand-maintained (VERDICT r3 doc-drift item): the
    first '**Totals' line must state exactly len(REGISTRY) registered,
    |oracled| value-checked and |rows-only| counts."""
    text = (REPO / "STATUS.md").read_text()
    m = re.search(
        r"\*\*Totals \(round \d+\):\*\* (\d+) registered queries, (\d+) DuckDB"
        r" value-checked \+\s*(\d+) rows-only",
        text,
    )
    assert m, "STATUS.md totals line missing or malformed"
    n_reg, n_sql, n_rows = (int(g) for g in m.groups())
    want_sql = sum(1 for q in REGISTRY.values() if q.oracle)
    assert (n_reg, n_sql, n_rows) == (
        len(REGISTRY),
        want_sql,
        len(REGISTRY) - want_sql,
    ), "STATUS.md totals drifted from the registry — regenerate the line"


def test_next_totals_match_registry():
    """NEXT.md's current registry line must be generated, not
    hand-maintained (VERDICT r4 item 4): the FIRST
    'Registry: **N queries, S SQL-oracled + R rows-only**' line must
    state exactly the load_all() totals.  (Historical lines in older
    round sections use the 'value-checked' wording and are exempt.)"""
    text = (REPO / "NEXT.md").read_text()
    m = re.search(
        r"Registry: \*\*(\d+) queries, (\d+) SQL-oracled \+ (\d+) rows-only",
        text,
    )
    assert m, "NEXT.md current registry totals line missing or malformed"
    n_reg, n_sql, n_rows = (int(g) for g in m.groups())
    want_sql = sum(1 for q in REGISTRY.values() if q.oracle)
    assert (n_reg, n_sql, n_rows) == (
        len(REGISTRY),
        want_sql,
        len(REGISTRY) - want_sql,
    ), "NEXT.md registry totals drifted — regenerate the line"


def test_readme_totals_match_registry():
    """README's tests/ summary line must track the registry too."""
    text = (REPO / "README.md").read_text()
    m = re.search(r"oracle parity \((\d+) queries, (\d+) DuckDB value-checked\)", text)
    assert m, "README.md oracle-parity totals line missing or malformed"
    n_reg, n_sql = (int(g) for g in m.groups())
    want_sql = sum(1 for q in REGISTRY.values() if q.oracle)
    assert (n_reg, n_sql) == (len(REGISTRY), want_sql), (
        "README totals drifted — regenerate the line"
    )


_CURRENT_ROUND = 11


def test_round11_window_clears_backlog_then_rechecks():
    """Round-11 window contract (VERDICT r10 item 1): the SQL head of
    the window must be EXACTLY the never-hash-certified backlog — every
    SQL-oracled key without a hash-level line in ∪CORRECTNESS_r{1..10}.
    Unlike rounds 4-10 this is enforced with NO module exemption:
    round-11 session additions are appended to the SQL head as they are
    registered (the driver sweeps after the last commit), so the
    backlog⊆window direction must hold for them too.  Remaining slots
    re-check rows-only keys (fresh `spark_rows>0` lines against the
    current engine) — already-attempted keys are INTENTIONAL there.

    Assert against PRIOR rounds only: the current round's own results
    file (written mid-round by the driver) certifies exactly these
    names, which is success, not waste (VERDICT r4 item 1)."""
    import json

    hash_certified: set[str] = set()
    for p in sorted(REPO.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p.name)
        if m and int(m.group(1)) >= _CURRENT_ROUND:
            continue
        d = json.loads(p.read_text())
        hash_certified |= {k for k, v in d.items() if v.get("hash_match")}
    backlog = {
        n for n in REGISTRY if REGISTRY[n].oracle and n not in hash_certified
    }
    sql_head = [n for n in _ROUND11_PRIORITY if REGISTRY[n].oracle]
    wasted = [n for n in sql_head if n not in backlog]
    assert not wasted, (
        f"window spends SQL slots on already-hash-certified keys: {wasted}"
    )
    uncovered = sorted(backlog - set(sql_head))
    assert not uncovered, (
        f"never-hash-certified SQL keys missing from the round-11 window "
        f"(append session additions to _ROUND11_PRIORITY): {uncovered}"
    )
    kinds = ["sql" if REGISTRY[n].oracle else "rows" for n in _ROUND11_PRIORITY]
    first_rows = kinds.index("rows") if "rows" in kinds else len(kinds)
    assert "sql" not in kinds[first_rows:], (
        "SQL-oracled key(s) ordered after rows-only keys in _ROUND11_PRIORITY"
    )
    # Every rows-only key gets a re-check slot (budget permitting).
    rows_only = {n for n in REGISTRY if not REGISTRY[n].oracle}
    missing_rows = sorted(rows_only - set(_ROUND11_PRIORITY))
    assert not missing_rows, f"rows-only keys without a re-check slot: {missing_rows}"


def test_survey_rows_cover_every_section2_row():
    """Every SURVEY.md §2 row id must be resolvable from `load_all()`
    survey tags ALONE — no name-prefix fallback (VERDICT r5 item 3).
    The machine-readable mapping (registry survey_rows) is the source of
    truth the judge's coverage table is built from; STATUS.md's prose
    table must never be the only place a row resolves."""
    text = (REPO / "SURVEY.md").read_text()
    m = re.search(r"^## 2\. Operator inventory(.*?)^## ", text, re.S | re.M)
    assert m, "SURVEY.md §2 heading not found"
    row_ids = []
    for line in m.group(1).splitlines():
        mm = re.match(r"^\|\s*([A-Z][A-Za-z0-9-]*(?:-[a-z0-9]+)?)\s*\|", line)
        if mm:
            row_ids.append(mm.group(1))
    assert len(row_ids) >= 245, f"§2 parser found only {len(row_ids)} rows"
    tagged: set[str] = set()
    for q in REGISTRY.values():
        tagged |= set(q.survey_rows)
    missing = [r for r in row_ids if r not in tagged]
    assert not missing, f"§2 rows with no survey_rows tag on any query: {missing}"


# VERDICT r9 item 8: pin the §2 row count so the judge's coverage table
# can be regenerated mechanically — adding a §2 row without bumping this
# constant (or tagging a covering query) fails CI, not judge review.
_SURVEY_SECTION2_ROWS = 413


def test_survey_section2_row_count_is_pinned():
    text = (REPO / "SURVEY.md").read_text()
    m = re.search(r"^## 2\. Operator inventory(.*?)^## ", text, re.S | re.M)
    assert m, "SURVEY.md §2 heading not found"
    n = sum(
        1
        for line in m.group(1).splitlines()
        if re.match(r"^\|\s*([A-Z][A-Za-z0-9-]*(?:-[a-z0-9]+)?)\s*\|", line)
    )
    assert n == _SURVEY_SECTION2_ROWS, (
        f"SURVEY.md §2 has {n} operator rows but the pinned count is "
        f"{_SURVEY_SECTION2_ROWS} — update _SURVEY_SECTION2_ROWS in the same "
        f"commit that edits §2 (and tag the covering query via survey_rows)"
    )


def test_every_registered_query_is_documented_somewhere():
    docs = _doc_names(REPO / "STATUS.md") | _doc_names(REPO / "SURVEY.md")
    # Families documented as ranges (tpch_q2..q22) get prose mentions; any
    # name absent from BOTH docs entirely is an undocumented operator.
    undocumented = [
        n for n in REGISTRY if n not in docs and not n.startswith("tpch_q")
    ]
    assert not undocumented, f"registered but undocumented: {undocumented}"


def test_readme_ledger_matches_artifacts():
    """README's certification-ledger counts must be recomputed from the
    driver CORRECTNESS artifacts + registry, never hand-maintained
    (VERDICT r8 item 8).  Counts cover rounds STRICTLY BEFORE the
    current one — the current round's file lands mid-round and would
    otherwise flip the ledger the moment the driver succeeds (the
    round-4 tripwire lesson)."""
    import json

    hash_certified: set[str] = set()
    attempted: set[str] = set()
    for p in sorted(REPO.glob("CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p.name)
        if m and int(m.group(1)) >= _CURRENT_ROUND:
            continue
        d = json.loads(p.read_text())
        attempted |= set(d)
        hash_certified |= {k for k, v in d.items() if v.get("hash_match")}
    rows_only_lines = attempted - hash_certified
    never = set(REGISTRY) - attempted
    text = (REPO / "README.md").read_text()
    m = re.search(r"\*\*(\d+) hash-certified by the driver\*\*", text)
    assert m and int(m.group(1)) == len(hash_certified), (
        f"README hash-certified count should be {len(hash_certified)}"
    )
    m = re.search(r"\*\*(\d+) driver rows-only lines\*\*", text)
    assert m and int(m.group(1)) == len(rows_only_lines), (
        f"README rows-only-line count should be {len(rows_only_lines)}"
    )
    m = re.search(r"\*\*(\d+) SQL-oracled, awaiting their first driver window\*\*", text)
    assert m and int(m.group(1)) == len(never), (
        f"README awaiting-window count should be {len(never)}"
    )
    assert all(REGISTRY[k].oracle for k in never)
