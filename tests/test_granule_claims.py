"""The claim rule and the granule planners built on it (driver only).

Every data file's ``slice_meta`` entry ``[d, residues]`` says which keys it
can hold: those whose slice64 = xxhash64(keys, '__salt__') mod 64 satisfies
``slice64 mod d ∈ residues``. ``claims_at`` lifts or projects that claim to
any depth; the planners (granular COW, the fold, ``cdc_diff``) and the key
probes use nothing else.

* ``claims_at`` equals the brute-force definition over slice64 ∈ [0, 64).
* The planners equal the per-planner forms they replaced, kept below as
  references, over random layouts: mixed depths, multi-residue claims and
  files shared by several buckets.
* ``_cow_granular_rebase_ok`` equals its reference when no racer's new
  base file is shallower than the plan depth; otherwise the reference
  (which let such a file overlap every granule) saw a conflict wherever
  the new rule does. Either way the new rule allows a rebase exactly
  when brute force finds it sound.

No Spark session is started.
"""

from __future__ import annotations

import copy
import os
import random

from hypothesis import given, settings
from hypothesis import strategies as st

from tap_rest_api_msdk_spark.streaming.laketable import (
    SLICE_MOD,
    LakeTable,
    claims_at,
)

DEPTHS = [1, 2, 4, 8, 16, 32, 64]
NAMES = [f"/t/data/epoch=0-x/part-{i:05d}.parquet" for i in range(10)]


class Planner(LakeTable):
    """The planners need no Spark session: a fixed files_per_bucket keeps
    ``_fpb`` off the SparkContext."""

    def __init__(self, files_per_bucket: int):
        self.files_per_bucket = files_per_bucket


# ---------------------------------------------------------------------------
# the per-planner forms the claim helpers replaced (references)
# ---------------------------------------------------------------------------
def ref_cow_granule_plans(self, m: dict, foot: dict):
    raw = {}
    for b, s64s in foot.items():
        b_str = str(b)
        base_files = m.get("files", {}).get(b_str, [])
        dfiles = m.get("deltas", {}).get(b_str, [])
        bmeta = m.get("slice_meta", {}).get(b_str, {})
        all_files = list(base_files) + list(dfiles)
        if not all_files:
            raw[b] = None
            continue

        def depth(f):
            ent = bmeta.get(os.path.basename(f))
            return int(ent[0]) if ent else 1

        S_b = min(depth(f) for f in all_files)

        def residues(f):
            ent = bmeta.get(os.path.basename(f))
            if not ent:
                return set(range(S_b))
            return {int(r) % S_b for r in ent[1]}

        touched = {s % S_b for s in s64s}
        while True:
            pulled = set()
            for f in all_files:
                rs = residues(f)
                if rs & touched:
                    pulled |= rs
            if pulled <= touched:
                break
            touched |= pulled
        raw[b] = (
            S_b,
            touched,
            [f for f in base_files if residues(f) & touched],
            [f for f in dfiles if residues(f) & touched],
        )
    S_w = max([self._fpb(len(foot))] + [p[0] for p in raw.values() if p is not None])
    plans = {}
    for b, p in raw.items():
        if p is None:
            plans[b] = (S_w, {s % S_w for s in foot[b]}, [], [])
        else:
            plans[b] = p
    return plans, S_w


def ref_cow_granular_rebase_ok(m: dict, cur: dict, plans: dict) -> bool:
    for b, (S_b, touched, cb, cd) in plans.items():
        b_str = str(b)
        cur_base = cur.get("files", {}).get(b_str, [])
        cur_deltas = cur.get("deltas", {}).get(b_str, [])
        if not set(cb) <= set(cur_base):
            return False
        if not set(cd) <= set(cur_deltas):
            return False
        m_base = set(m.get("files", {}).get(b_str, []))
        cmeta = cur.get("slice_meta", {}).get(b_str, {})
        for f in cur_base:
            if f in m_base or f in set(cb):
                continue
            ent = cmeta.get(os.path.basename(f))
            if ent and int(ent[0]) >= S_b:
                rs = {int(r) % S_b for r in ent[1]}
            else:
                rs = set(range(S_b))
            if rs & touched:
                return False
    return True


def ref_bucket_granule_plan(m: dict, b_str: str, k: int):
    dfiles = m.get("deltas", {}).get(b_str, [])
    if not dfiles:
        return None
    base_files = m.get("files", {}).get(b_str, [])
    bmeta = m.get("slice_meta", {}).get(b_str, {})
    all_files = list(base_files) + list(dfiles)

    def depth(f):
        ent = bmeta.get(os.path.basename(f))
        return int(ent[0]) if ent else 1

    S_b = min((depth(f) for f in all_files), default=1)

    def residues(f):
        ent = bmeta.get(os.path.basename(f))
        if not ent:
            return set(range(S_b))
        return {int(r) % S_b for r in ent[1]}

    delta_count = {r: 0 for r in range(S_b)}
    for f in dfiles:
        for r in residues(f):
            delta_count[r] += 1
    due = {r for r in range(S_b) if delta_count[r] >= k}
    if not due:
        return None
    while True:
        pulled = set()
        for f in all_files:
            rs = residues(f)
            if rs & due:
                pulled |= rs
        if pulled <= due:
            break
        due |= pulled
    base_sel = [f for f in base_files if residues(f) & due]
    delta_sel = [f for f in dfiles if residues(f) & due]
    return S_b, sorted(due), base_sel, delta_sel


def ref_cdc_diff_plan(m_from: dict, m_to: dict) -> dict:
    bucket_files = LakeTable._bucket_files
    plan: dict = {"touched": {}, "from": (set(), []), "to": (set(), [])}
    all_b = set(m_from.get("files", {})) | set(m_from.get("deltas", {})) | set(
        m_to.get("files", {})
    ) | set(m_to.get("deltas", {}))
    total_files = set()
    for b_str in all_b:
        lf, lt = bucket_files(m_from, b_str), bucket_files(m_to, b_str)
        total_files.update(lf)
        total_files.update(lt)
        if lf == lt:
            continue

        def meta_of(f):
            for mm in (m_from, m_to):
                ent = mm.get("slice_meta", {}).get(b_str, {}).get(os.path.basename(f))
                if ent:
                    return int(ent[0]), [int(r) for r in ent[1]]
            return 1, [0]

        S_b = min(meta_of(f)[0] for f in set(lf) | set(lt))
        changed = set(lf) ^ set(lt)
        touched = set()
        for f in changed:
            d, rs = meta_of(f)
            touched |= {r % S_b for r in rs} if d >= S_b else set(range(S_b))
        plan["touched"][int(b_str)] = (S_b, touched)
        for key, mm in (("from", m_from), ("to", m_to)):
            files, pairs = plan[key]
            for f in bucket_files(mm, b_str):
                d, rs = meta_of(f)
                res = {r % S_b for r in rs} if d >= S_b else set(range(S_b))
                if res & touched:
                    files.add(f)
                    pairs.append((os.path.basename(f), int(b_str)))
    plan["scanned_files"] = len(plan["from"][0] | plan["to"][0])
    plan["total_files"] = len(total_files)
    return plan


# ---------------------------------------------------------------------------
# random layouts (seeded by hypothesis, built with random.Random: fast)
# ---------------------------------------------------------------------------
def rand_entry(rng: random.Random) -> list:
    d = rng.choice(DEPTHS)
    return [d, sorted(rng.sample(range(d), rng.randint(1, min(d, 4))))]


def rand_claims(rng: random.Random, n_buckets: int) -> dict:
    """(bucket, file basename) -> claim entry. A basename listed by several
    buckets is a shared file, each bucket with its own claim, as
    partition-index collisions produce."""
    return {
        (str(b), os.path.basename(f)): rand_entry(rng)
        for b in range(n_buckets)
        for f in NAMES
    }


def rand_snapshot(rng: random.Random, claims: dict, n_buckets: int) -> dict:
    files, deltas, slice_meta = {}, {}, {}
    for b in map(str, range(n_buckets)):
        chosen = rng.sample(NAMES, rng.randint(0, 6))
        split = rng.randint(0, len(chosen))
        if chosen[:split]:
            files[b] = chosen[:split]
        if chosen[split:]:
            deltas[b] = chosen[split:]
        if chosen:
            slice_meta[b] = {
                os.path.basename(f): claims[(b, os.path.basename(f))] for f in chosen
            }
    return {"files": files, "deltas": deltas, "slice_meta": slice_meta}


def rand_foot(rng: random.Random, buckets: int) -> dict:
    return {
        b: set(rng.sample(range(SLICE_MOD), rng.randint(1, 6)))
        for b in rng.sample(range(buckets), rng.randint(1, buckets))
    }


def keys_of(entry) -> set:
    """Brute force: every slice64 a file with this claim can hold."""
    d, rs = entry
    return {s for s in range(SLICE_MOD) if s % d in rs}


SEEDS = st.integers(0, 2**32 - 1)


# ---------------------------------------------------------------------------
# (a) the claim rule
# ---------------------------------------------------------------------------
@settings(max_examples=300, deadline=None)
@given(seed=SEEDS, S=st.sampled_from(DEPTHS))
def test_claims_at_equals_brute_force(seed, S):
    entry = rand_entry(random.Random(seed))
    brute = {s % S for s in keys_of(entry)}
    assert claims_at(entry, S) == brute, (entry, S)


# ---------------------------------------------------------------------------
# (b) planners equal their references
# ---------------------------------------------------------------------------
@settings(max_examples=400, deadline=None)
@given(seed=SEEDS)
def test_cow_granule_plans_match_reference(seed):
    rng = random.Random(seed)
    n_buckets = rng.randint(1, 4)
    m = rand_snapshot(rng, rand_claims(rng, n_buckets), n_buckets)
    foot = rand_foot(rng, n_buckets + 1)  # bucket n_buckets is always empty
    t = Planner(rng.choice([1, 2, 4, 8]))
    assert t._cow_granule_plans(m, foot) == ref_cow_granule_plans(t, m, foot)


@settings(max_examples=400, deadline=None)
@given(seed=SEEDS)
def test_bucket_granule_plan_matches_reference(seed):
    rng = random.Random(seed)
    n_buckets, k = rng.randint(1, 4), rng.randint(1, 4)
    m = rand_snapshot(rng, rand_claims(rng, n_buckets), n_buckets)
    t = Planner(4)
    for b in map(str, range(n_buckets)):
        assert t._bucket_granule_plan(m, b, k) == ref_bucket_granule_plan(m, b, k), b


@settings(max_examples=400, deadline=None)
@given(seed=SEEDS)
def test_cdc_diff_plan_matches_reference(seed):
    rng = random.Random(seed)
    n_buckets = rng.randint(1, 4)
    claims = rand_claims(rng, n_buckets)
    m_from = rand_snapshot(rng, claims, n_buckets)
    m_to = rand_snapshot(rng, claims, n_buckets)
    for b in m_from["slice_meta"]:
        if rng.random() < 0.5:  # some buckets unchanged between endpoints
            for section in ("files", "deltas", "slice_meta"):
                m_to[section].pop(b, None)
                if b in m_from[section]:
                    m_to[section][b] = copy.copy(m_from[section][b])
    t = Planner(4)
    assert t.cdc_diff_plan(m_from, m_to) == ref_cdc_diff_plan(m_from, m_to)


# ---------------------------------------------------------------------------
# (c) the COW rebase check
# ---------------------------------------------------------------------------
def rebase_sound(m: dict, cur: dict, plans: dict) -> bool:
    """Brute force: consumed files survive, and no base file added since
    ``m`` can hold a key in a touched granule."""
    for b, (S_b, touched, cb, cd) in plans.items():
        b_str = str(b)
        cur_base = cur.get("files", {}).get(b_str, [])
        if not set(cb) <= set(cur_base):
            return False
        if not set(cd) <= set(cur.get("deltas", {}).get(b_str, [])):
            return False
        m_base = set(m.get("files", {}).get(b_str, []))
        for f in cur_base:
            if f in m_base:
                continue
            entry = cur["slice_meta"][b_str][os.path.basename(f)]
            if any(s % S_b in touched for s in keys_of(entry)):
                return False
    return True


@settings(max_examples=600, deadline=None)
@given(seed=SEEDS)
def test_cow_granular_rebase_ok_refines_reference(seed):
    rng = random.Random(seed)
    n_buckets = rng.randint(1, 3)
    m = rand_snapshot(rng, rand_claims(rng, n_buckets), n_buckets)
    t = Planner(rng.choice([1, 2, 4, 8]))
    plans, _S_w = t._cow_granule_plans(m, rand_foot(rng, n_buckets))
    # a racer's commits: drop a consumed file, add base and delta files
    cur = copy.deepcopy(m)
    shallower = False
    for b, (S_b, _touched, cb, cd) in plans.items():
        b_str = str(b)
        if (cb or cd) and rng.random() < 0.2:
            gone = rng.choice(cb + cd)
            for section in ("files", "deltas"):
                if gone in cur[section].get(b_str, []):
                    cur[section][b_str].remove(gone)
        for i in range(rng.randint(0, 2)):
            f = f"/t/data/epoch=1-y/part-{b}-{i}.parquet"
            entry = rand_entry(rng)
            section = rng.choice(["files", "deltas"])
            cur[section].setdefault(b_str, []).append(f)
            cur["slice_meta"].setdefault(b_str, {})[os.path.basename(f)] = entry
            shallower |= section == "files" and entry[0] < S_b
    new = LakeTable._cow_granular_rebase_ok(m, cur, plans)
    ref = ref_cow_granular_rebase_ok(m, cur, plans)
    if not shallower:
        assert new == ref
    elif ref:
        assert new
    # exact: True iff the rebase is sound by brute force
    assert new == rebase_sound(m, cur, plans)
