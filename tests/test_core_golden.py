"""Golden state digests for the cuckoo table core.

``tests/data/core_golden.json`` pins, for fixed seeds and keys, the
state that ``CuckooFilter`` and ``SemiSortCuckooFilter`` reach on the
paths the build goldens (which run below half load) never drive:

- ``add/<kind><f>/<step>``: one filter filled in four ``add_many``
  steps — to loads 0.5, 0.9 and 0.97 of its slots, then an overflow
  batch that parks a victim and refuses the keys after it. Cuckoo
  f ∈ {8, 12, 16, 32} covers the SWAR-word (uint16) and row (uint32)
  placement paths; semisort f ∈ {13, 17} the packed blob codec.
- ``merge/...`` and ``merge_many/...``: pairwise ``merge`` and 3-input
  ``merge_many``, dedup on and off, for victim-free inputs and for
  inputs where one filter holds a parked victim.
- ``delete/...``: ``delete_many`` of resident keys of an overflowed
  filter, which frees room and re-inserts its victim.
- ``roundtrip/...``: ``from_bytes`` of a 0.9-load blob (packed and
  wire form), then ``add_many`` to 0.97 — this pins the post-load
  kick RNG seed (``seed ^ 0x9E3779B9 ^ num_items``).

Each entry holds the sha256 of ``to_bytes()`` and ``wire_bytes()``,
the sha256 of the returned status array, ``num_items``, ``kicks`` and
the victim — or the exception type when the operation raised (a
merge may overflow). To re-record after an intended change:
``python -m tests.test_core_golden``; it prints each entry that moved.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pytest

from cuckoofilter_spark.core.cuckoo import CuckooFilter, Status
from cuckoofilter_spark.core.registry import wire_bytes
from cuckoofilter_spark.core.semisort import SemiSortCuckooFilter

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "core_golden.json")

# max_num_keys 15,564 sizes 4,096 buckets = 16,384 slots (load 0.95,
# below the constructor's 0.96 doubling line)
CAPACITY = 15_564
SEED = 7
CLASSES = {"cuckoo": CuckooFilter, "semisort": SemiSortCuckooFilter}
ADD_LAYOUTS = [("cuckoo", 8), ("cuckoo", 12), ("cuckoo", 16),
               ("cuckoo", 32), ("semisort", 13), ("semisort", 17)]
MERGE_LAYOUTS = [("cuckoo", 8), ("cuckoo", 12), ("cuckoo", 32),
                 ("semisort", 13)]
LOADS = (0.5, 0.9, 0.97)
OVERFLOW = 0.08  # extra keys, as a share of the slots, past load 0.97


def _sha(b) -> str:
    return hashlib.sha256(bytes(b)).hexdigest()


def _keys(n: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 2**64, size=n, dtype=np.uint64)


def _new(kind: str, f: int):
    return CLASSES[kind](CAPACITY, f, seed=SEED)


def _state(fl, statuses=None) -> dict:
    return {
        "blob": _sha(fl.to_bytes()),
        "wire": _sha(wire_bytes(fl)),
        "status": None if statuses is None else _sha(
            np.asarray(statuses, dtype=np.int8).tobytes()
        ),
        "num_items": int(fl.num_items),
        "kicks": int(fl.kicks),
        "victim": [int(fl.victim.index), int(fl.victim.tag),
                   bool(fl.victim.used)],
    }


def _fill_bounds(fl) -> list:
    slots = fl.size_in_tags
    return [int(x * slots) for x in LOADS] + [
        int((LOADS[-1] + OVERFLOW) * slots)
    ]


def _filled(kind: str, f: int, load_steps: int, key_seed: int = 1):
    """A filter after the first ``load_steps`` add steps, plus the
    keys it was given and the last step's statuses."""
    fl = _new(kind, f)
    bounds = _fill_bounds(fl)
    keys = _keys(bounds[-1], key_seed)
    lo, st = 0, None
    for hi in bounds[:load_steps]:
        st = fl.add_many(keys[lo:hi])
        lo = hi
    return fl, keys[:lo], st


def _add_case(kind: str, f: int, step: int) -> dict:
    fl, _, st = _filled(kind, f, step + 1)
    return _state(fl, st)


def _shared_inputs(kind: str, f: int) -> list:
    """Three victim-free filters at load ~0.25 each: 0.2 own keys plus
    a shared 0.05 block that dedup collapses."""
    slots = _new(kind, f).size_in_tags
    shared = _keys(int(0.05 * slots), 100)
    out = []
    for i in range(3):
        fl = _new(kind, f)
        fl.add_many(np.concatenate([_keys(int(0.2 * slots), 200 + i), shared]))
        out.append(fl)
    return out


def _victim_inputs(kind: str, f: int) -> list:
    """(small base, small second input, overflowed filter holding a
    victim); the base holds 64 keys of the overflowed filter."""
    big, big_keys, _ = _filled(kind, f, len(LOADS) + 1, key_seed=300)
    assert big.victim.used
    base = _new(kind, f)
    base.add_many(big_keys[:64])
    second = _new(kind, f)
    second.add_many(_keys(32, 301))
    return [base, second, big]


def _merge_case(op: str, inputs: str, kind: str, f: int, dedup: bool) -> dict:
    fls = (_shared_inputs if inputs == "plain" else _victim_inputs)(kind, f)
    try:
        if op == "merge":
            out = fls[0].merge(fls[-1], dedup=dedup)
        else:
            out = CLASSES[kind].merge_many(fls, dedup=dedup)
    except RuntimeError as e:
        return {"error": type(e).__name__}
    return _state(out)


def _delete_case(kind: str, f: int) -> dict:
    fl, keys, _ = _filled(kind, f, len(LOADS) + 1)
    assert fl.victim.used
    st = fl.delete_many(keys[:200])
    return _state(fl, st)


def _roundtrip_case(kind: str, f: int, form: str) -> dict:
    fl, keys, _ = _filled(kind, f, 2)
    blob = fl.to_bytes() if form == "packed" else wire_bytes(fl)
    back = CLASSES[kind].from_bytes(blob)
    hi = _fill_bounds(fl)[2]
    st = back.add_many(_keys(hi, 1)[len(keys):hi])
    return _state(back, st)


def _cases() -> dict:
    cases = {}
    for kind, f in ADD_LAYOUTS:
        for step, name in enumerate(("0.5", "0.9", "0.97", "overflow")):
            cases[f"add/{kind}{f}/{name}"] = (_add_case, (kind, f, step))
        cases[f"delete/{kind}{f}"] = (_delete_case, (kind, f))
        for form in ("packed", "wire"):
            cases[f"roundtrip/{kind}{f}/{form}"] = (
                _roundtrip_case, (kind, f, form)
            )
    for kind, f in MERGE_LAYOUTS:
        for op in ("merge", "merge_many"):
            for inputs in ("plain", "victim"):
                for dedup in (False, True):
                    cases[f"{op}/{kind}{f}/{inputs}/dedup={int(dedup)}"] = (
                        _merge_case, (op, inputs, kind, f, dedup)
                    )
    return cases


CASES = _cases()


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as fh:
        return json.load(fh)


def test_golden_covers_every_case(golden):
    assert sorted(golden) == sorted(CASES)


def test_overflow_cases_park_a_victim_and_refuse(golden):
    for kind, f in ADD_LAYOUTS:
        fl, _, st = _filled(kind, f, len(LOADS) + 1)
        assert fl.victim.used
        assert (st == int(Status.NotEnoughSpace)).any()
        assert golden[f"add/{kind}{f}/overflow"]["victim"][2]


@pytest.mark.parametrize("name", sorted(CASES))
def test_core_state_matches_golden(golden, name):
    fn, args = CASES[name]
    assert fn(*args) == golden[name]


if __name__ == "__main__":
    from tests.golden_io import rewrite_golden

    rewrite_golden(GOLDEN, {name: fn(*args) for name, (fn, args)
                            in CASES.items()}, depth=1)
