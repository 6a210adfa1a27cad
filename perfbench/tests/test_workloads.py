from perfbench.workloads import NOMINAL_PASS_S, WORKLOADS, families_of, ops_of, pass_order, warm_passes


def test_a_pass_runs_every_op_once_in_a_seeded_order():
    for w in WORKLOADS:
        order = pass_order(w, 5, 1)
        assert sorted(order) == sorted(ops_of(w))
        assert order == pass_order(w, 5, 1)
    orders = {tuple(pass_order("tpch", seed, 1)) for seed in range(20)}
    assert len(orders) > 1


def test_ops_sharing_a_cache_stay_together_in_listed_order():
    for seed in range(20):
        order = pass_order("stateful_etl", seed, 2)
        j = order.index("dedup_minhash_lsh")
        assert order[j + 1] == "dedup_ngram_jaccard"


def test_families_split_the_ops_of_a_workload():
    fams = families_of("stateful_etl")
    assert set(fams) == {"dedup", "streaming", "pipeline"}
    assert sorted(set().union(*fams.values())) == sorted(ops_of("stateful_etl"))
    assert families_of("tpch") == {}


def test_seconds_set_the_number_of_warm_passes_and_at_least_three():
    assert set(NOMINAL_PASS_S) == set(WORKLOADS)
    assert warm_passes("tpch", 10) == 4
    assert warm_passes("tpch", 1) == 3
    assert warm_passes("stateful_etl", 10) == 3
    assert warm_passes("stateful_etl", 60) == 7
