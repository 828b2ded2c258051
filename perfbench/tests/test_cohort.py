from perfbench import cohort


def test_cohort_is_the_frozen_265():
    assert len(cohort.SHORT_COHORT) == 265
    assert set(cohort.LOCAL4_COST) == set(cohort.pool())


def test_set_holds_the_index_probe_and_one_query_per_stratum():
    a = cohort.short_set()
    assert len(a) == len(set(a)) == cohort.SET_SIZE
    assert cohort.INDEX_PROBE in a
    strata = cohort.strata(cohort.SET_SIZE - 1)
    hits = [i for i, members in enumerate(strata) for n in a if n in members]
    assert sorted(hits) == list(range(cohort.SET_SIZE - 1))  # one per stratum


def test_strata_partition_the_pool_by_warm_time():
    strata = cohort.strata(5)
    members = [n for s in strata for n in s]
    assert sorted(members) == cohort.pool()
    warm = [[cohort.LOCAL4_COST[n][1] for n in s] for s in strata]
    assert all(max(lo) <= min(hi) for lo, hi in zip(warm, warm[1:]))


def test_representative_is_nearest_the_median_costs():
    members = sorted(cohort.LOCAL4_COST)[:5]
    rep = cohort.representative(members)
    assert rep in members
    cost = cohort.LOCAL4_COST
    mid = [sorted(cost[n][i] for n in members)[2] for i in (0, 1)]
    dist = {n: sum(abs(cost[n][i] / mid[i] - 1) for i in (0, 1)) for n in members}
    assert dist[rep] == min(dist.values())


def test_twins_and_index_consumers_are_left_out():
    names = set(cohort.short_set())
    assert not names & cohort.TWINS
    assert names & cohort.INDEX_CONSUMERS == {cohort.INDEX_PROBE}
    assert cohort.INDEX_PROBE in cohort.INDEX_CONSUMERS


def test_missing_names_are_reported():
    names = set(cohort.SHORT_COHORT)
    assert cohort.missing(names, names) == []
    gone = min(cohort.SHORT_COHORT)
    assert cohort.missing(names - {gone}, names) == [gone]
    assert cohort.missing(names, names - {gone}) == [gone]
