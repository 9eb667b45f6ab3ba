"""IdentityMemo: the bounded owner-identity memo behind the driver-side
handle, column-plan and field-plan caches."""

from sciencebeam_trainer_grobid_tools_spark.memo import IdentityMemo


class _Owner:
    pass


def _counting_build(calls: list):
    def build():
        calls.append(1)
        return object()

    return build


def test_hit_returns_the_same_object():
    memo = IdentityMemo(4)
    owner = _Owner()
    calls: list = []
    first = memo.get(owner, "k", _counting_build(calls))
    assert memo.get(owner, "k", _counting_build(calls)) is first
    assert len(calls) == 1
    # another key of the same owner is its own entry
    assert memo.get(owner, "other", _counting_build(calls)) is not first
    assert len(calls) == 2


def test_entry_of_another_owner_with_a_reused_id_is_rebuilt():
    memo = IdentityMemo(4)
    stale_owner, owner = _Owner(), _Owner()
    # the entry a dead object with owner's id would have left behind
    memo._entries[(id(owner), "k")] = (stale_owner, "stale")
    calls: list = []
    value = memo.get(owner, "k", _counting_build(calls))
    assert value != "stale"
    assert len(calls) == 1
    assert memo.get(owner, "k", _counting_build(calls)) is value
    assert len(calls) == 1


def test_oldest_entry_is_evicted_at_maxsize_plus_one():
    memo = IdentityMemo(3)
    owners = [_Owner() for _ in range(4)]
    values = [memo.get(o, None, object) for o in owners[:3]]
    # a hit does not refresh the entry's place: the policy is FIFO
    assert memo.get(owners[0], None, object) is values[0]
    memo.get(owners[3], None, object)
    assert len(memo._entries) == 3
    calls: list = []
    assert memo.get(owners[1], None, _counting_build(calls)) is values[1]
    assert memo.get(owners[2], None, _counting_build(calls)) is values[2]
    assert calls == []
    assert memo.get(owners[0], None, _counting_build(calls)) is not values[0]
    assert calls == [1]
