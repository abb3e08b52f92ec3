"""Driver correctness-window rotation (inventory/rotation.py)."""

import json
import os

import __spark_entry__ as entrymod
from scout_spark.inventory import load_all
from scout_spark.inventory.rotation import (
    CHECKED_PRIOR_ROUNDS,
    FAILED_PRIOR_ROUNDS,
    LAST_CHECKED_ROUND,
    MAX_RECORDED_ROUND,
    N_RECORDS,
    ORACLE_GREEN_EVER,
    ordered_names,
)


def _tiers(registry):
    """Mirror rotation_key's tier assignment for assertion clarity."""
    red, unverified, second, green = [], [], [], []
    for n in registry:
        has_oracle = registry[n].oracle is not None
        if n in FAILED_PRIOR_ROUNDS:
            red.append(n)
        elif n not in CHECKED_PRIOR_ROUNDS or (
            has_oracle and n not in ORACLE_GREEN_EVER
        ):
            unverified.append(n)
        elif (
            N_RECORDS.get(n, 0) == 1
            and LAST_CHECKED_ROUND.get(n, 0) == MAX_RECORDED_ROUND
        ):
            second.append(n)
        else:
            green.append(n)
    return red, unverified, second, green

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_prior_checked_names_exist_in_registry():
    registry = load_all()
    missing = CHECKED_PRIOR_ROUNDS - set(registry)
    assert not missing, f"rotation list references unknown queries: {missing}"


def test_unchecked_queries_fill_driver_window():
    registry = load_all()
    order = ordered_names(registry)
    assert set(order) == set(registry), "rotation must be a permutation"
    red, unverified, second, green = _tiers(registry)
    # previously-red names lead the window outright — no volume of newly
    # registered queries can push a red re-check past the ~50 cutoff
    assert order[: len(red)] == sorted(red, key=order.index), (
        "previously-failed queries must lead the window"
    )
    # tier order: red, then never-checked/oracle-unverified, then
    # second-exposure, then greens
    n0, n1, n2 = len(red), len(red) + len(unverified), 0
    n2 = n1 + len(second)
    assert set(order[n0:n1]) == set(unverified), (
        "never-checked + oracle-unverified entries must precede "
        "second-exposure and green tiers"
    )
    assert set(order[n1:n2]) == set(second), (
        "single-record latest-round entries must re-check before greens"
    )
    # within the unverified block: name order, independent of which
    # module registered an entry first
    block = order[n0:n1]
    assert block == sorted(block), "unchecked entries must be in name order"


def test_window_is_independent_of_registration_order():
    registry = load_all()
    assert ordered_names(registry) == ordered_names(
        dict(reversed(registry.items()))
    )


def test_queries_iteration_order_matches_rotation():
    registry = load_all()
    assert list(entrymod.queries()) == ordered_names(registry)


def test_green_tier_is_staleness_ordered():
    """Checked-green entries re-enter the window stalest-first:
    green order is (last-checked round, name), so a green last verified
    in r03 precedes one verified in r07 regardless of its name, and
    every green cycles back on a ~N/50-round cadence."""
    registry = load_all()
    order = ordered_names(registry)
    _, _, _, greens_set = _tiers(registry)
    greens = [n for n in order if n in set(greens_set)]
    # greens occupy the back of the rotation contiguously
    assert order[-len(greens) :] == greens
    keys = [(LAST_CHECKED_ROUND[n], n) for n in greens]
    assert keys == sorted(keys), (
        "green tier must be ordered by (last-checked round, name)"
    )
    # the scan actually produced multiple distinct rounds (not all r01)
    assert len({LAST_CHECKED_ROUND[n] for n in greens}) > 1


def test_r11_window_composition():
    """The round-11 motivating cases: the three in-place rows-only →
    oracle conversions lead the window (their oracle comparison has
    never driver-run), the two r10 first-exposure entries get their
    second exposure, and no green older than the window's reach is
    left stranded behind fresher greens."""
    registry = load_all()
    order = ordered_names(registry)
    win = set(order[:50])
    for n in (
        "sketch_cms_term_frequencies",
        "graph_pagerank_top20",
        "multimodal_frame_sample_rollup",
    ):
        if registry[n].oracle is not None and n not in ORACLE_GREEN_EVER:
            assert n in win, f"converted entry {n} must re-enter window"
    # staleness invariant: nothing outside the window is older than the
    # minimum staleness inside the green portion of the window
    greens_in = [n for n in order[:50] if LAST_CHECKED_ROUND.get(n)]
    greens_out = [n for n in order[50:] if LAST_CHECKED_ROUND.get(n)]
    if greens_in and greens_out:
        assert min(
            LAST_CHECKED_ROUND[n] for n in greens_out
        ) >= min(LAST_CHECKED_ROUND[n] for n in greens_in), (
            "stalest greens must sort into the window first"
        )


def test_round1_correctness_keys_are_all_marked_checked():
    path = os.path.join(REPO, "CORRECTNESS_r01.json")
    recorded = set(json.load(open(path)))
    assert recorded <= CHECKED_PRIOR_ROUNDS
