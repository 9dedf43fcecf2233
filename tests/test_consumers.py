"""Named consumer groups (q_stream_consumer_groups): durable atomic
cursors, at-least-once crash-resume, caught-up-consumer segment pruning,
and the lag relation's recount — the message-queue contract the key's
oracle can't see from one snapshot."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lstore_spark.sources.lstore_log import write_segment
from lstore_spark.streaming import consumers as cg


@pytest.fixture()
def store(tmp_path):
    """A 4-segment store with offsets 0..399, 100 per sealed segment."""
    d = tmp_path / "store"
    d.mkdir()
    for i in range(4):
        write_segment(str(d / f"{i:05d}.seg"),
                      [(o, [o, o * 2], [f"t{o % 3}".encode()])
                       for o in range(i * 100, (i + 1) * 100)])
    return str(d)


def test_commit_is_monotone_and_durable(store):
    cg.ensure_group(store, "g1")
    assert cg.committed_offset(store, "g1") == -1
    cg.commit_offset(store, "g1", 150)
    assert cg.committed_offset(store, "g1") == 150
    with pytest.raises(ValueError):
        cg.commit_offset(store, "g1", 120)  # cursors never move back
    cg.commit_offset(store, "g1", 150)  # idempotent re-commit is fine
    cg.commit_offset(store, "g1", 399)
    assert cg.committed_offset(store, "g1") == 399
    with pytest.raises(ValueError):
        cg.commit_offset(store, "g1", None)  # empty poll must not commit
    with pytest.raises(ValueError):
        cg.ensure_group(store, "../escape")  # names are path components
    # review r13: an INVALID name must raise from the read side too —
    # the tolerant except used to swallow the validation error and
    # return -1, so a typo'd consumer silently re-read the whole store
    with pytest.raises(ValueError, match="invalid consumer group"):
        cg.committed_offset(store, "bad name!")


def test_crashed_commit_leaves_cursor_intact_and_resumes(store, spark):
    """The crash-resume contract: a consumer that dies between poll and
    commit re-receives the batch (at-least-once); a commit torn mid-write
    (stale tmp debris, even unreadable garbage) never corrupts the
    durable cursor; the next commit supersedes cleanly."""
    cg.ensure_group(store, "g2")
    cg.commit_offset(store, "g2", 99)
    cursor = cg._cursor_path(store, "g2")
    # crash debris: a half-written tmp from a dead PID + plain garbage
    with open(cursor + ".tmp999999", "w") as fh:
        fh.write('{"offset": 9')  # torn JSON
    assert cg.committed_offset(store, "g2") == 99  # unaffected
    # a consumer restarting after the crash polls from the COMMITTED
    # cursor — the unacked batch is redelivered
    first = sorted(r.offset for r in
                   cg.poll(spark, store, "g2", max_records=50)
                   .select("offset").collect())
    assert first == list(range(100, 150))
    again = sorted(r.offset for r in
                   cg.poll(spark, store, "g2", max_records=50)
                   .select("offset").collect())
    assert again == first, "uncommitted poll must redeliver"
    cg.commit_offset(store, "g2", first[-1])
    nxt = sorted(r.offset for r in
                 cg.poll(spark, store, "g2", max_records=50)
                 .select("offset").collect())
    assert nxt == list(range(150, 200)), "committed poll must advance"
    # the cursor file itself is valid JSON at all times
    with open(cursor) as fh:
        assert json.load(fh)["offset"] == 149


def test_caught_up_consumer_prunes_sealed_segments(store):
    """A consumer at offset 299 must plan a read of ONE segment file
    (the tail), not four — the whole point of cursors over sealed
    trailer stats."""
    from pyspark.sql.datasource import GreaterThan

    from lstore_spark.sources.lstore_log import LstoreLogReader

    cg.ensure_group(store, "g3")
    cg.commit_offset(store, "g3", 299)
    r = LstoreLogReader({"path": store})
    r.pushFilters([GreaterThan(("offset",), cg.committed_offset(store, "g3"))])
    assert len(r.partitions()) == 1, "caught-up poll must touch only the tail"


def test_lag_report_matches_recount(store, spark):
    """lag_records from the shared-scan conditional aggregate must equal
    an independent per-group recount, and groups() must enumerate every
    registered cursor."""
    for g, off in (("a", 399), ("b", 250), ("c", -1)):
        cg.ensure_group(store, g)
        if off >= 0:
            cg.commit_offset(store, g, off)
    assert cg.groups(store) == ["a", "b", "c"]
    assert cg.tail_offset(store) == 399
    rel = {r.grp: r for r in cg.lag_report(spark, store).collect()}
    for g in ("a", "b", "c"):
        c = cg.committed_offset(store, g)
        assert rel[g].committed_offset == c
        assert rel[g].tail_offset == 399
        assert rel[g].lag_offsets == 399 - c
        assert rel[g].lag_records == len([o for o in range(400) if o > c])


def test_assign_segments_round_robin_and_guards(store):
    """Scale-out assignment: lo-ordered round-robin, stable under
    append (existing ranks never move), loud on unsealed segments and
    bad consumer counts."""
    from lstore_spark.sources.lstore_log import write_segment

    a2 = cg.assign_segments(store, 2)
    assert a2 == {"00000.seg": 0, "00001.seg": 1,
                  "00002.seg": 0, "00003.seg": 1}
    # appending a new sealed segment extends the mapping, ranks stable
    write_segment(os.path.join(store, "00004.seg"),
                  [(o, [o], [b"x"]) for o in range(400, 450)])
    a2b = cg.assign_segments(store, 2)
    assert {k: v for k, v in a2b.items() if k != "00004.seg"} == a2
    assert a2b["00004.seg"] == 0
    with pytest.raises(ValueError, match="positive"):
        cg.assign_segments(store, 0)
    # an unsealed (trailer-less) segment must fail loudly
    with open(os.path.join(store, "00005.seg"), "wb") as fh:
        fh.write(b"")
    with pytest.raises(ValueError, match="unsealed"):
        cg.assign_segments(store, 2)
    os.unlink(os.path.join(store, "00005.seg"))


def test_assignment_slices_are_disjoint_and_exhaustive(store, spark):
    """Per-consumer polls restricted to assigned segments must tile the
    store exactly: no record in two consumers' slices, none dropped."""
    from lstore_spark.sources.lstore_log import read_segment_file

    n = 3
    assignment = cg.assign_segments(store, n)
    seen: dict[int, set] = {i: set() for i in range(n)}
    for seg, consumer in assignment.items():
        for off, _ints, _blobs, _key in read_segment_file(
                os.path.join(store, seg)):
            seen[consumer].add(off)
    union = set()
    for i in range(n):
        assert not (union & seen[i]), "overlapping consumer slices"
        union |= seen[i]
    assert union == set(range(400)), "assignment dropped records"


def test_poll_assigned_tiles_store_and_respects_cursor(store, spark):
    """Per-instance polls through the reader's segments option must
    tile the store exactly (disjoint, exhaustive), compose with the
    PER-SEGMENT cursors (ADVICE r11: never the shared scalar), and
    fail loudly on a stale assignment."""
    n = 3
    gen, _asg = cg.rebalance(store, "ga", n)
    parts = [sorted(r.offset for r in
                    cg.poll_assigned(spark, store, "ga", i, generation=gen)
                    .select("offset").collect())
             for i in range(n)]
    flat = [o for p in parts for o in p]
    assert sorted(flat) == list(range(400)), "instances did not tile"
    assert len(flat) == len(set(flat)), "overlapping instance slices"
    # per-segment cursors compose: instance 0 of 2 owns segments 0 and
    # 2; after fully committing segment 0 and half of segment 2, its
    # next poll redelivers only segment 2's uncommitted suffix — the
    # whole-segment prune is metadata-only, the partial one a pushdown
    gen, asg = cg.rebalance(store, "ga", 2)
    cg.commit_assigned(store, "ga", 0, gen,
                       {"00000.seg": 99, "00002.seg": 249})
    a0 = sorted(r.offset for r in
                cg.poll_assigned(spark, store, "ga", 0, generation=gen)
                .select("offset").collect())
    assert a0 == list(range(250, 300)), a0
    # ...and instance 1's slice is untouched by instance 0's commits
    # (the at-least-once property the shared scalar cursor broke)
    a1 = sorted(r.offset for r in
                cg.poll_assigned(spark, store, "ga", 1, generation=gen)
                .select("offset").collect())
    assert a1 == list(range(100, 200)) + list(range(300, 400))
    # more instances than segments: empty relation, not an error
    gen10, _asg = cg.rebalance(store, "ga", 10)
    assert cg.poll_assigned(spark, store, "ga", 9,
                            generation=gen10).count() == 0
    # a poll names its generation: there is no membership-free mode
    with pytest.raises(ValueError, match="generation"):
        cg.poll_assigned(spark, store, "ga", 0)
    # stale assignment (assigned file vanished) fails loudly
    import pytest as _pt

    from lstore_spark.sources.lstore_log import LstoreLogReader
    r = LstoreLogReader({"path": store, "segments": "gone.seg"})
    with _pt.raises(FileNotFoundError, match="gone.seg"):
        r.partitions()


def test_commit_assigned_validates_ownership_range_and_monotone(store):
    """Per-segment commits are all-or-nothing validated: ownership in
    the CURRENT generation, offset inside the segment's sealed range,
    and per-segment monotonicity.  A rejected batch writes nothing."""
    gen, asg = cg.rebalance(store, "gb", 2)
    assert asg == {"00000.seg": 0, "00001.seg": 1,
                   "00002.seg": 0, "00003.seg": 1}
    # not my segment
    with pytest.raises(ValueError, match="not.*assigned"):
        cg.commit_assigned(store, "gb", 0, gen, {"00001.seg": 150})
    # outside the sealed range
    with pytest.raises(ValueError, match="outside"):
        cg.commit_assigned(store, "gb", 0, gen, {"00000.seg": 100})
    # a batch with one bad entry writes NOTHING (the good entry too)
    with pytest.raises(ValueError):
        cg.commit_assigned(store, "gb", 0, gen,
                           {"00000.seg": 50, "00002.seg": 999})
    assert cg.committed_segment_offsets(store, "gb") == {}
    cg.commit_assigned(store, "gb", 0, gen, {"00000.seg": 50})
    with pytest.raises(ValueError, match="regresses"):
        cg.commit_assigned(store, "gb", 0, gen, {"00000.seg": 49})
    cg.commit_assigned(store, "gb", 0, gen, {"00000.seg": 99})
    assert cg.committed_segment_offsets(store, "gb") == {"00000.seg": 99}


def test_rebalance_fences_stale_generation(store, spark):
    """A zombie instance from the previous generation can neither poll
    nor commit after a rebalance — and surviving per-segment cursors
    carry over, so nothing consumed pre-rebalance is redelivered."""
    gen1, _ = cg.rebalance(store, "gc", 3)
    cg.commit_assigned(store, "gc", 0, gen1, {"00000.seg": 99})
    gen2, asg2 = cg.rebalance(store, "gc", 2)
    assert gen2 == gen1 + 1
    with pytest.raises(ValueError, match="fenced"):
        cg.commit_assigned(store, "gc", 2, gen1, {"00002.seg": 299})
    with pytest.raises(ValueError, match="fenced"):
        cg.poll_assigned(spark, store, "gc", 2, generation=gen1)
    # cursor survives: new owner of segment 0's rank (consumer 0 again)
    # does not re-receive offsets 0-99
    a0 = sorted(r.offset for r in
                cg.poll_assigned(spark, store, "gc", 0, generation=gen2)
                .select("offset").collect())
    assert a0 == list(range(200, 300)), a0
    # and the two new instances still tile the unconsumed remainder
    a1 = sorted(r.offset for r in
                cg.poll_assigned(spark, store, "gc", 1, generation=gen2)
                .select("offset").collect())
    assert sorted(a0 + a1) == list(range(100, 400))


def test_crash_during_rebalance_leaves_generation_intact(store):
    """Torn tmp debris from a rebalance that died mid-publish must not
    corrupt the current membership doc; the next rebalance supersedes
    cleanly."""
    gen1, asg1 = cg.rebalance(store, "gd", 3)
    gp = cg._gen_path(store, "gd")
    with open(gp + ".tmp999999", "w") as fh:
        fh.write('{"generation": 9')  # torn JSON from a dead PID
    assert cg.membership(store, "gd") == (gen1, 3, asg1)
    gen2, asg2 = cg.rebalance(store, "gd", 1)
    assert gen2 == gen1 + 1
    assert cg.membership(store, "gd") == (gen2, 1, asg2)


def test_assigned_frontier_is_contiguous_consumption(store):
    """The lag scalar for a partitioned group: largest X with all
    offsets <= X committed, from per-segment cursors in lo order."""
    gen, _ = cg.rebalance(store, "ge", 1)
    assert cg.assigned_frontier(store, "ge") == -1
    cg.commit_assigned(store, "ge", 0, gen, {"00001.seg": 199})
    # segment 0 untouched: frontier stays before it
    assert cg.assigned_frontier(store, "ge") == -1
    cg.commit_assigned(store, "ge", 0, gen, {"00000.seg": 50})
    assert cg.assigned_frontier(store, "ge") == 50
    cg.commit_assigned(store, "ge", 0, gen, {"00000.seg": 99})
    assert cg.assigned_frontier(store, "ge") == 199
    cg.commit_assigned(store, "ge", 0, gen,
                       {"00002.seg": 299, "00003.seg": 310})
    assert cg.assigned_frontier(store, "ge") == 310


def test_groups_are_independent(store, spark):
    """One group's commit must not move another's cursor — the
    N-consumer property q_stream_follow's single cursor lacked."""
    cg.ensure_group(store, "x")
    cg.ensure_group(store, "y")
    cg.commit_offset(store, "x", 399)
    assert cg.committed_offset(store, "y") == -1
    n_y = cg.poll(spark, store, "y").count()
    assert n_y == 400
    assert cg.poll(spark, store, "x").count() == 0


def test_heartbeat_auto_rebalance_detects_dead_instance(store, spark):
    """The liveness detector that GENERATES a rebalance (VERDICT r11
    missing #2): heartbeats register members, a dead instance's stale
    heartbeat drops it from the live set, the first auto_rebalance
    after the TTL publishes a survivors-only generation (fencing the
    zombie), and an unchanged fleet never churns generations."""
    import json as _json
    import os as _os

    for inst in (0, 1, 2):
        cg.heartbeat(store, "gf", inst)
    gen1, asg1 = cg.auto_rebalance(store, "gf", ttl_sec=30)
    assert sorted(set(asg1.values())) == [0, 1, 2]
    # steady state: same live set → same generation, no churn
    assert cg.auto_rebalance(store, "gf", ttl_sec=30) == (gen1, asg1)
    # instance 1 dies: age its heartbeat past the TTL
    hb = _os.path.join(cg._members_dir(store, "gf"), "1.json")
    with open(hb, "w") as fh:
        _json.dump({"ts": 1.0}, fh)
    gen2, asg2 = cg.auto_rebalance(store, "gf", ttl_sec=30)
    assert gen2 == gen1 + 1
    # survivors KEEP their ids and tile every segment between them
    assert sorted(set(asg2.values())) == [0, 2]
    assert set(asg2) == set(asg1)
    # the zombie is fenced under the old generation...
    with pytest.raises(ValueError, match="fenced"):
        cg.commit_assigned(store, "gf", 1, gen1, {"00001.seg": 150})
    # ...and owns nothing under the new one
    with pytest.raises(ValueError, match="not.*assigned"):
        cg.commit_assigned(store, "gf", 1, gen2, {"00001.seg": 150})
    # survivors poll disjoint+exhaustive slices under gen 2
    rows = []
    for inst in (0, 2):
        rows += [r.offset for r in
                 cg.poll_assigned(spark, store, "gf", inst,
                                  generation=gen2).select("offset").collect()]
    assert sorted(rows) == list(range(400))
    # an all-dead fleet is refused, never a zero-consumer generation
    for inst in (0, 2):
        with open(_os.path.join(cg._members_dir(store, "gf"),
                                f"{inst}.json"), "w") as fh:
            _json.dump({"ts": 1.0}, fh)
    with pytest.raises(ValueError, match="no live members"):
        cg.auto_rebalance(store, "gf", ttl_sec=30)


def test_protocol_paths_cannot_collide_with_group_names(store):
    """review r12: with '.'-separated protocol paths, a group literally
    named 'workers.gen' would clobber workers' membership doc, and the
    doc itself showed up as a phantom group.  '@' is outside the group
    name alphabet, so collision is impossible by construction."""
    gen1, _ = cg.rebalance(store, "workers", 2)
    # a legal dotted group name no longer lands on the membership doc
    cg.ensure_group(store, "workers.gen")
    cg.commit_offset(store, "workers.gen", 42)
    assert cg.membership(store, "workers")[0] == gen1, \
        "scalar commit clobbered the membership doc"
    # and the membership doc is not a phantom group
    assert cg.groups(store) == ["workers.gen"]
    assert cg.committed_offset(store, "workers.gen") == 42


def test_auto_rebalance_extends_assignment_over_new_segments(store):
    """review r12: a stable fleet must still pick up newly sealed
    segments — lag must not grow green-heartbeated forever."""
    cg.heartbeat(store, "gh", 0)
    cg.heartbeat(store, "gh", 1)
    gen1, asg1 = cg.auto_rebalance(store, "gh", ttl_sec=30)
    assert set(asg1) == {f"{i:05d}.seg" for i in range(4)}
    # steady state: no churn
    assert cg.auto_rebalance(store, "gh", ttl_sec=30) == (gen1, asg1)
    write_segment(os.path.join(store, "00004.seg"),
                  [(o, [o], [b"x"]) for o in range(400, 450)])
    gen2, asg2 = cg.auto_rebalance(store, "gh", ttl_sec=30)
    assert gen2 == gen1 + 1, "new sealed segment must trigger a generation"
    assert "00004.seg" in asg2
    # existing ranks stable (append-only store): old segments unchanged
    assert {s: c for s, c in asg2.items() if s != "00004.seg"} == asg1


def _mk_store(root, name):
    d = os.path.join(str(root), name)
    os.makedirs(d)
    for i in range(4):
        write_segment(os.path.join(d, f"{i:05d}.seg"),
                      [(o, [o, o * 2], [f"t{o % 3}".encode()])
                       for o in range(i * 100, (i + 1) * 100)])
    return d


class _Kill(Exception):
    """Simulated SIGKILL at a durable-publish boundary."""


def _consumer_scenario(st):
    """One full consumer-group lifecycle over the 4-segment store:
    two members join, a generation is published, both commit their
    assigned segments half-way then fully, member 1 dies, the survivor
    is re-assigned everything and finishes.  Written crash-idempotent
    the way a real consumer loop is: generation re-read before every
    commit, targets clamped to the committed cursor (resume-from-
    cursor), so re-running after any crash converges to the same final
    state."""
    cg.heartbeat(st, "gf", 0)
    cg.heartbeat(st, "gf", 1)
    cg.auto_rebalance(st, "gf", ttl_sec=30)

    def commit_up_to(consumer, frac):
        gen, _, asg = cg.membership(st, "gf")
        cur = cg.committed_segment_offsets(st, "gf")
        batch = {}
        for seg, owner in asg.items():
            if owner != consumer:
                continue
            lo = int(seg[:5]) * 100
            target = lo + int(99 * frac)
            if target >= cur.get(seg, -1):
                batch[seg] = target
        if batch:
            cg.commit_assigned(st, "gf", consumer, gen, batch)

    commit_up_to(0, 0.5)
    commit_up_to(1, 0.5)
    commit_up_to(1, 1.0)
    # member 1 dies: its heartbeat disappears, the survivor fences it
    hb1 = os.path.join(cg._members_dir(st, "gf"), "1.json")
    if os.path.exists(hb1):
        os.remove(hb1)
    cg.auto_rebalance(st, "gf", ttl_sec=30)
    commit_up_to(0, 1.0)


def test_crash_fuzz_commit_and_rebalance_atomicity(tmp_path, monkeypatch):
    """VERDICT r12 #8: kill-mid-commit fuzz over commit_assigned /
    rebalance / heartbeat.  Every durable publish in the group protocol
    funnels through one os.replace (tmp+rename under the group flock),
    so injecting a deterministic kill at the k-th replace exercises
    every commit boundary.  After EVERY crash point: membership and
    all per-segment cursors must read back as a complete OLD or NEW
    value (never torn), no cursor may exceed an offset the scenario
    actually committed (no invented progress = no lost records on
    resume), none may regress (no re-delivery beyond at-least-once),
    and a plain retry of the consumer loop must converge to the exact
    no-crash final state."""
    import random

    # ground truth: run the scenario crash-free, counting publishes
    real_replace = os.replace
    calls = {"n": 0}

    def counting(src, dst):
        calls["n"] += 1
        return real_replace(src, dst)

    st0 = _mk_store(tmp_path, "clean")
    monkeypatch.setattr(os, "replace", counting)
    _consumer_scenario(st0)
    monkeypatch.setattr(os, "replace", real_replace)
    total = calls["n"]
    assert total >= 10, f"scenario too small to fuzz ({total} publishes)"
    want_final = cg.committed_segment_offsets(st0, "gf")
    assert want_final == {f"{i:05d}.seg": i * 100 + 99 for i in range(4)}
    assert cg.assigned_frontier(st0, "gf") == 399

    valid_offsets = {f"{i:05d}.seg": {i * 100 + 49, i * 100 + 99}
                     for i in range(4)}
    rng = random.Random(13)
    for trial, k in enumerate(sorted(rng.sample(range(total), 10))):
        st = _mk_store(tmp_path, f"t{trial}")
        state = {"left": k}

        def killing(src, dst, _s=state):
            if _s["left"] == 0:
                raise _Kill(f"killed before publishing {dst}")
            _s["left"] -= 1
            return real_replace(src, dst)

        monkeypatch.setattr(os, "replace", killing)
        with pytest.raises(_Kill):
            _consumer_scenario(st)
        monkeypatch.setattr(os, "replace", real_replace)

        # atomicity: everything durable parses, at an OLD or NEW value
        gen, n, asg = cg.membership(st, "gf")   # must not raise
        assert gen >= 0 and set(asg.values()) <= {0, 1}
        cur = cg.committed_segment_offsets(st, "gf")
        for seg, off in cur.items():
            assert off in valid_offsets[seg], \
                f"crash@{k}: {seg} cursor {off} is neither old nor new"
        # no invented progress, no regression risk: frontier computable
        # and bounded by the largest offset the scenario ever committed
        assert cg.assigned_frontier(st, "gf") <= 399
        # recovery: a plain retry converges to the no-crash final state
        _consumer_scenario(st)
        assert cg.committed_segment_offsets(st, "gf") == want_final, \
            f"crash@{k}: retry did not converge"
        assert cg.assigned_frontier(st, "gf") == 399
        # no stale tmp debris accumulates into phantom cursors/groups
        assert cg.groups(st) == []


def test_advice_r12_degrade_paths(store):
    """ADVICE r12 pins: (a) a legal group name containing '.tmp' is
    visible in groups() (the old substring filter hid it); (b) a stray
    trailer-less .seg neither forces nor crashes auto_rebalance under a
    stable fleet; (c) a membership doc whose JSON root is not an object
    degrades to never-rebalanced instead of raising TypeError."""
    # (a) '.tmp' inside a legal name is not staging debris
    cg.ensure_group(store, "backfill.tmp")
    assert "backfill.tmp" in cg.groups(store)
    # real staging debris stays hidden
    d = os.path.join(store, cg.CURSOR_DIR)
    with open(os.path.join(d, "g9.json.tmp4242"), "w") as fh:
        fh.write('{"offset": 1')
    assert all(not g.endswith(".tmp4242") for g in cg.groups(store))

    # (b) stable fleet + one unsealed foreign segment: steady state
    cg.heartbeat(store, "gi", 0)
    cg.heartbeat(store, "gi", 1)
    gen1, asg1 = cg.auto_rebalance(store, "gi", ttl_sec=30)
    with open(os.path.join(store, "99999.seg"), "wb") as fh:
        fh.write(b"\x00" * 16)  # no trailer: unsealed/foreign
    assert cg.auto_rebalance(store, "gi", ttl_sec=30) == (gen1, asg1)
    # review r13: the unsealed file must not wedge fencing either — a
    # member dies while the stray file exists, and auto_rebalance still
    # publishes the survivor generation (skipping the unassignable file)
    os.remove(os.path.join(cg._members_dir(store, "gi"), "1.json"))
    gen2, asg2 = cg.auto_rebalance(store, "gi", ttl_sec=30)
    assert gen2 == gen1 + 1 and set(asg2.values()) == {0}
    assert "99999.seg" not in asg2
    # the explicit path keeps the loud error
    with pytest.raises(ValueError, match="no\\s+trailer|unsealed"):
        cg.assign_segments(store, 1)
    os.remove(os.path.join(store, "99999.seg"))

    # (c) malformed membership docs degrade uniformly to generation 0
    for bad in ('[1, 2, 3]', '"a string"',
                '{"generation": 1, "n_consumers": 1, "assignment": 7}'):
        with open(cg._gen_path(store, "gj"), "w") as fh:
            fh.write(bad)
        assert cg.membership(store, "gj") == (0, 0, {}), bad
