"""Choose the driver window and rebuild its manifest (freshness governance).

The driver's correctness pass verifies only the first 50 registry entries
per round. This tool picks those 50 and records them in
``tools/driver_manifest.json``; ``operators.all_queries()`` puts the
entries staged for the manifest's target round first. Two rules decide who
must be in the upcoming window (both enforced by ``tests/test_registry.py``):

1. **Self-scaling staleness**: every query re-verifies at least every
   P-th round, where P = max(3, ceil(registry / window) + 1) — the
   rotation period grows with the registry so the rule stays satisfiable
   with headroom for ~window/P new queries per round.
2. **Changed source re-verifies**: any query whose governed source
   (transitive package closure of the registered function — module
   helpers, constants, nested lambdas — plus the expanded oracle SQL;
   see ``lakehouse_workshop_spark/srchash.py``) changed since the hash
   its last green driver row vouches for must be in the window.

Selection (:func:`select_window`) takes, in registration order within
each class, until the window is full: the hard demands (stale, never
verified, and changed entries whose recorded deferral is overdue); changed
entries with no deferral to the target round; changed entries with one;
then everything else, oldest latest green row first.

The manifest maps each query to the source hash it will have been
verified against: window entries get their *current* hash (they are about
to be re-verified); the rest keep their previous hash (their old row
vouches for the old source).

Run at each round start and after every engine edit:

    python tools/make_driver_order.py

``--check`` validates the committed window without writing (the manifest
is left byte-identical): exit 0 when no query requiring a window slot sits
outside it, exit 1 otherwise. ``--defer-changed`` lets a write proceed when
changed entries do not fit: each is marked ``deferred_round = target`` and
becomes a hard demand the round after, so it cannot be deferred twice.
Hard demands are never deferrable.

Capacity policy: at 210 registered, P=6 holds through 250. Before
registering past ~230, retire the labeled exact-baseline twins
(``SCALE_PATHS``) from the rotation first — each is coverage-redundant with
its production twin and pinned by the twins' recall tests — and only then
raise P, which makes every row wait one round longer between re-verifies.
"""

from __future__ import annotations

import json
import sys
from glob import glob
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

MANIFEST = REPO / "tools" / "driver_manifest.json"
DRIVER_WINDOW = 50


def vouched(p: dict, latest_n: int) -> str | None:
    """The hash a REAL driver row vouches for, with the promotion rule
    applied: once a CORRECTNESS row exists for the round an entry was
    staged into (latest_n >= window_round), the staged hash is the
    verified one — whether or not the manifest file has been rewritten
    since the artifact landed. Used by BOTH the validation pass and the
    write loop; validating on the raw ``verified_hash`` field would
    spuriously flag every verified-last-round source change as drifted
    at the next round's start (first hit at r16) and refuse the write."""
    wr = p.get("window_round")
    if wr is not None and latest_n >= wr:
        return p.get("hash")  # the staged hash earned its driver row
    if "verified_hash" in p:
        return p["verified_hash"]
    return p.get("hash") if latest_n > 0 else None


def row_is_green(row: dict) -> bool:
    """A CORRECTNESS row vouches only when the driver actually verified
    it: rows_match/schema_match/hash_match all True and err None (r16
    ADVICE #2 — rows can record failures, and a failed run must not
    vouch a drifted hash as verified). Weaker rows-only checks (err ==
    'no_oracle', r01 era) intentionally do NOT vouch under this rule;
    every currently-registered query has an oracle, so nothing is
    penalized today — revisit if a genuinely non-SQL op registers."""
    return (
        row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
        and row.get("err") is None
    )


def latest_rows() -> tuple[dict[str, int], int]:
    latest: dict[str, int] = {}
    max_round = 0
    for path in sorted(glob(str(REPO / "CORRECTNESS_r*.json"))):
        rnd = int(Path(path).stem.split("_r")[1])
        max_round = max(max_round, rnd)
        for name, row in json.load(open(path)).items():
            if row_is_green(row):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest, max_round


def rotation_period(registry: int) -> int:
    return max(3, -(-registry // DRIVER_WINDOW) + 1)


def demands(
    names: list[str],
    prev: dict,
    latest: dict[str, int],
    max_round: int,
    hashes: dict[str, str],
) -> tuple[list[str], list[str], list[str], list[str]]:
    """The slot-demanding classes, each in registration order:

    stale   — verified before, but the row is >= P rounds behind the
              newest recorded round
    pending — never driver-verified, including queries registered this
              round: registration is atomic with windowing
    changed — source differs from the hash its last green row vouches
              for (:func:`vouched`, not the staged hash, so a
              changed-then-displaced entry cannot escape)
    overdue — changed entries whose recorded deferral is older than the
              target round (a deferral to the target itself is current)

    Stale, pending and overdue are hard demands."""
    horizon = max_round + 1 - rotation_period(len(names))
    stale = [n for n in names if 0 < latest.get(n, 0) <= horizon]
    pending = [n for n in names if latest.get(n, 0) == 0]
    changed = [
        n
        for n in names
        if n in prev
        and prev[n].get("window_round") is not None
        and vouched(prev[n], latest.get(n, 0)) != hashes[n]
    ]
    overdue = [
        n for n in changed
        if prev[n].get("deferred_round", max_round + 1) < max_round + 1
    ]
    return stale, pending, changed, overdue


def select_window(
    names: list[str],
    prev: dict,
    latest: dict[str, int],
    max_round: int,
    hard: set[str],
    changed: set[str],
    size: int = DRIVER_WINDOW,
) -> set[str]:
    """Hard demands, then changed entries without a deferral to the target
    round, then those with one, then the rest by oldest latest green row.
    The sort is stable, so each class keeps registration order."""

    def rank(n: str) -> tuple[int, int]:
        if n in hard:
            return 0, 0
        if n in changed:
            return 1 + (prev[n].get("deferred_round") == max_round + 1), 0
        return 3, latest.get(n, 0)

    return set(sorted(names, key=rank)[:size])


def build_manifest(
    names: list[str],
    prev: dict,
    latest: dict[str, int],
    max_round: int,
    hashes: dict[str, str],
    window: set[str],
    deferrable: set[str],
) -> dict:
    target = max_round + 1
    manifest = {
        # The governance tests read as_of_round to evaluate staleness as
        # of the state this manifest was built from: a CORRECTNESS
        # artifact landing AFTER this write cannot flip the suite red.
        # The grace ends at the builder's next engine commit (see
        # tests/test_registry.py::test_manifest_rebuilt_after_artifact).
        "_meta": {"as_of_round": max_round, "target_round": target},
    }
    for n in names:
        p = prev.get(n, {})
        latest_n = latest.get(n, 0)
        # verified_hash promotion: the staged hash earns "verified" only
        # when the driver row for its window_round exists. Until then the
        # previously-verified hash keeps vouching.
        vh = vouched(p, latest_n)
        if n in window:
            entry = {"hash": hashes[n], "window_round": target}
        else:
            entry = dict(p)
            # An entry windowed at an earlier write of the SAME round but
            # displaced before the driver ran carries a window_round no
            # driver row backs, and a staged hash no row verified. Demote
            # both to the newest real row so the record stays honest and
            # a changed source keeps reading as changed.
            wr = p.get("window_round")
            if wr is not None and wr > latest_n > 0:
                entry.update(window_round=latest_n, hash=vh)
        entry["first_seen_round"] = p.get("first_seen_round", target)
        if n in deferrable:
            entry["deferred_round"] = target
        elif "deferred_round" in p and vh != hashes[n]:
            # still owed: windowed or not, the deferral stands until a
            # green row vouches for the current source
            entry["deferred_round"] = p["deferred_round"]
        else:
            entry.pop("deferred_round", None)
        if vh is not None:
            entry["verified_hash"] = vh
        manifest[n] = entry
    return manifest


def main(check_only: bool = False, defer_changed: bool = False) -> None:
    from lakehouse_workshop_spark.operators import QUERIES, all_oracles, all_queries
    from lakehouse_workshop_spark.srchash import governed_source_hash

    queries, oracles = all_queries(), all_oracles()
    names = list(QUERIES)  # registration order
    hashes = {n: governed_source_hash(queries[n], oracles.get(n)) for n in names}
    latest, max_round = latest_rows()
    target = max_round + 1

    prev = json.load(open(MANIFEST)) if MANIFEST.exists() else {}
    prev.pop("_meta", None)
    stale, pending, changed, overdue = demands(names, prev, latest, max_round, hashes)
    hard = set(stale + pending + overdue)
    if check_only:
        window = set(list(queries)[:DRIVER_WINDOW])
    else:
        window = select_window(names, prev, latest, max_round, hard, set(changed))
    print(f"registry: {len(names)}, window: {len(window)}, "
          f"latest driver round: r{max_round:02d}")
    period = rotation_period(len(names))
    print(f"rotation period: {period} rounds (registry {len(names)}, window {DRIVER_WINDOW})")
    print(f"stale (latest row <= r{target - period:02d}): {len(stale)}")
    print(f"  {stale}")
    print(f"pending (never verified, registered <= r{max_round:02d}): {pending}")
    print(f"changed since manifest: {len(changed)}")
    print(f"  {changed}")

    missing = [n for n in names if n in hard and n not in window]
    if missing:
        print(f"!! queries requiring a window slot but outside it: {missing}")
        if any(n in missing for n in overdue):
            print(f"!! (already-deferred changed entries cannot defer again: {overdue})")
        print("!! manifest NOT written — " + (
            "rerun without --check to choose the window" if check_only
            else f"{len(hard)} hard demands exceed the {DRIVER_WINDOW}-slot window"
        ))
        sys.exit(1)
    deferrable = [n for n in changed if n not in window]
    unrecorded = [n for n in deferrable if prev[n].get("deferred_round") != target]
    if unrecorded and not defer_changed:
        print(
            f"!! changed-source queries outside the window: {unrecorded}\n"
            "!! a write gives them the free slots; those that do not fit"
            " need --defer-changed, which records an explicit one-round"
            " deferral (requires a same-session full-registry parity run"
            " as compensating evidence)"
        )
        print("!! manifest NOT written")
        sys.exit(1)
    if check_only:
        if deferrable:
            print(
                f"--check: {len(deferrable)} changed entries carry a"
                f" recorded deferral to r{target:02d}: {deferrable}"
            )
        print("--check: window satisfies all slot demands; manifest untouched")
        return

    manifest = build_manifest(
        names, prev, latest, max_round, hashes, window, set(deferrable)
    )
    MANIFEST.write_text(json.dumps(manifest, indent=1, sort_keys=True) + "\n")
    print(f"wrote {MANIFEST}")


if __name__ == "__main__":
    _args = sys.argv[1:]
    _unknown = [a for a in _args if a not in ("--check", "--defer-changed")]
    if _unknown:
        # A typo of --check must NOT fall through to the default WRITE
        # path — that is the governance-state footgun the flag exists
        # to eliminate.
        print(
            f"unknown arguments: {_unknown} "
            "(only --check / --defer-changed are accepted)"
        )
        sys.exit(2)
    main(
        check_only="--check" in _args,
        defer_changed="--defer-changed" in _args,
    )
