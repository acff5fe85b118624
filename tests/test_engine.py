"""Engine tests modeled on the reference's test strategy (SURVEY §5):
exact-cardinality expansion goldens, merge/dedup semantics, cofactor
rewrite, pruning, id assignment — with the deterministic fake chemistry
backend (strings as molecules, 'pat>>repl' rules).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mine_database_spark.operators.expansion import (
    NetworkExpansion,
    Rule,
    compound_id,
    edge_table,
)
from mine_database_spark.chem import get_backend


@pytest.fixture(scope="module")
def engine(spark):
    backend = get_backend()
    coreactants = {}
    for name, smi in [("ATP", "atp"), ("ADP", "adp")]:
        coreactants[name] = (smi, compound_id(backend.inchi_key(smi), "Coreactant"))
    rules = [Rule("2.7.1.a", ["ATP", "Any"], ["Any", "ADP"], "ab>>cd")]
    return NetworkExpansion(spark, rules, coreactants, frontier_partitions=4)


def test_expansion_golden_counts(spark, engine):
    """FADH-fixture analogue: 'abab' + rule ab>>cd for 2 generations.
    gen1: abab -> {cdab, abcd}; gen2: cdab|abcd -> cdcd.
    Exact counts, like test_pickaxe.py:108-111."""
    compounds = engine.starting_compounds([("fadh", "abab")])
    cpds, rxns = engine.transform_all(compounds, generations=2)

    cdict = {r["smiles"]: r for r in cpds.collect()}
    assert set(cdict) == {"atp", "adp", "abab", "cdab", "abcd", "cdcd"}
    assert cdict["cdab"]["generation"] == 1
    assert cdict["abcd"]["generation"] == 1
    assert cdict["cdcd"]["generation"] == 2
    assert cdict["abab"]["type"] == "Starting Compound"
    assert cdict["cdcd"]["type"] == "Predicted"

    rrows = rxns.collect()
    assert len(rrows) == 4  # 2 in gen1, 2 in gen2 (distinct hashes)
    for r in rrows:
        assert r["_id"].startswith("R") and len(r["_id"]) == 65
        assert r["operators"] == ["2.7.1.a"]


def test_expansion_deterministic(spark, engine):
    """Parallel == serial invariant (test_pickaxe.py:153-168): rerun
    produces identical hash sets regardless of partitioning."""
    compounds = engine.starting_compounds([("fadh", "abab")])
    c1, r1 = engine.transform_all(compounds, generations=2)
    ids1 = {r["_id"] for r in r1.collect()}
    engine2 = NetworkExpansion(spark, engine.rules, engine.coreactants, frontier_partitions=13)
    c2, r2 = engine2.transform_all(engine2.starting_compounds([("fadh", "abab")]), generations=2)
    ids2 = {r["_id"] for r in r2.collect()}
    assert ids1 == ids2
    assert {r["_id"] for r in c1.collect()} == {r["_id"] for r in c2.collect()}


def test_first_generation_wins(spark, engine):
    """E1: a compound reachable in gen1 and gen2 keeps generation 1
    (pickaxe.py:530-556 first-writer-wins)."""
    # 'ababab' -> gen1 contains 'cdabab','abcdab','ababcd'; gen2 re-derives
    # overlapping products — all keep their first generation.
    compounds = engine.starting_compounds([("s", "ababab")])
    cpds, _ = engine.transform_all(compounds, generations=2)
    rows = {r["smiles"]: r["generation"] for r in cpds.collect()}
    assert rows["cdabab"] == 1
    assert rows["cdcdab"] == 2


def test_operator_set_union(spark):
    """A3: same reaction hash from two rules unions the operator set."""
    backend = get_backend()
    co = {"ATP": ("atp", compound_id(backend.inchi_key("atp"), "Coreactant")),
          "ADP": ("adp", compound_id(backend.inchi_key("adp"), "Coreactant"))}
    rules = [
        Rule("r_a", ["ATP", "Any"], ["Any", "ADP"], "ab>>cd"),
        Rule("r_b", ["ATP", "Any"], ["Any", "ADP"], "ab>>cd"),
    ]
    eng = NetworkExpansion(spark, rules, co, frontier_partitions=2)
    cpds, rxns = eng.transform_all(eng.starting_compounds([("s", "ab")]), generations=1)
    rows = rxns.collect()
    assert len(rows) == 1
    assert rows[0]["operators"] == ["r_a", "r_b"]


def test_cofactor_redundancy_rewrite(spark):
    """T8: a predicted product whose hash has an X-twin is rewritten to the
    twin; no-op reactions are dropped (pickaxe.py:793-940)."""
    backend = get_backend()
    co = {"ATP": ("atp", compound_id(backend.inchi_key("atp"), "Coreactant")),
          "ADP": ("adp", compound_id(backend.inchi_key("adp"), "Coreactant"))}
    # rule turns substrate 'q' into the ADP molecule itself
    rules = [Rule("mk_adp", ["Any"], ["Any"], "q>>adp")]
    eng = NetworkExpansion(spark, rules, co, frontier_partitions=2)
    cpds, rxns = eng.transform_all(eng.starting_compounds([("s", "q")]), generations=1)
    rrows = rxns.collect()
    assert len(rrows) == 1
    (prod,) = rrows[0]["products"]
    assert prod["c_id"].startswith("X")  # rewritten to cofactor twin
    # the predicted 'adp' compound was removed as redundant
    smiles = {r["smiles"]: r["_id"][0] for r in cpds.collect()}
    assert smiles["adp"] == "X"


def test_stoichiometry_folding(spark):
    """A2/T5: a rule binding the same coreactant twice folds to stoich=2
    (reference _make_half_rxn Counter, reactions.py:87-118), on both sides."""
    backend = get_backend()
    co = {"ATP": ("atp", compound_id(backend.inchi_key("atp"), "Coreactant")),
          "ADP": ("adp", compound_id(backend.inchi_key("adp"), "Coreactant"))}
    rules = [Rule("kinase2", ["ATP", "ATP", "Any"], ["Any", "ADP", "ADP"], "ab>>cd")]
    eng = NetworkExpansion(spark, rules, co, frontier_partitions=2)
    cpds, rxns = eng.transform_all(eng.starting_compounds([("s", "ab")]), generations=1)
    (row,) = rxns.collect()
    r_stoich = {e["c_id"]: e["stoich"] for e in row["reactants"]}
    p_stoich = {e["c_id"]: e["stoich"] for e in row["products"]}
    assert r_stoich[co["ATP"][1]] == 2 and len(row["reactants"]) == 2
    assert p_stoich[co["ADP"][1]] == 2 and len(row["products"]) == 2
    # substrate keeps stoich 1
    assert 1 in r_stoich.values()


def test_atom_balance_rejection(spark):
    """T5: with check_balance on, an element-unbalanced product is rejected
    and a balanced one survives (reference reactions.py:194-205 Counter
    symmetric difference)."""
    # 'ab>>ba' conserves the letter multiset → balanced; 'a>>zz' does not
    rules = [Rule("swap", ["Any"], ["Any"], "ab>>ba"),
             Rule("grow", ["Any"], ["Any"], "a>>zz")]
    eng = NetworkExpansion(spark, rules, {}, frontier_partitions=2, check_balance=True)
    cpds, rxns = eng.transform_all(eng.starting_compounds([("s", "xaby")]), generations=1)
    ops = {op for r in rxns.collect() for op in r["operators"]}
    assert ops == {"swap"}  # 'grow' produced xzzby — unbalanced, vetoed
    smiles = {r["smiles"] for r in cpds.collect()}
    assert "xbay" in smiles and "xzzby" not in smiles
    # default under the fake backend: balance off → both survive
    eng2 = NetworkExpansion(spark, rules, {}, frontier_partitions=2)
    _, rxns2 = eng2.transform_all(eng2.starting_compounds([("s", "xaby")]), generations=1)
    assert {op for r in rxns2.collect() for op in r["operators"]} == {"swap", "grow"}


def test_charge_corrected_balance(spark):
    """T5: balance counters apply H -= Σ formal charge per side (reference
    reactions.py:105-113). Deprotonation 'h…' → '-…' conserves the corrected
    count (loses 1 H, gains -1 charge → H_corr unchanged); losing an H with
    a +1 charge does not."""
    eng = NetworkExpansion(
        spark, [Rule("deprot", ["Any"], ["Any"], "h>>-")], {}, frontier_partitions=2,
        check_balance=True,
    )
    # 'ha' {H:1,A:1} → '-a' atoms {A:1} charge -1 → H_corr = 0-(-1) = 1 → balanced
    _, rxns = eng.transform_all(eng.starting_compounds([("s", "ha")]), generations=1)
    assert rxns.count() == 1
    eng2 = NetworkExpansion(
        spark, [Rule("bad", ["Any"], ["Any"], "h>>+")], {}, frontier_partitions=2,
        check_balance=True,
    )
    # 'ha' {H:1,A:1} → '+a' atoms {A:1} charge +1 → H_corr = -1 ≠ 1 → vetoed
    _, rxns2 = eng2.transform_all(eng2.starting_compounds([("s", "ha")]), generations=1)
    assert rxns2.count() == 0


def test_unchanged_reactant_rejection(spark):
    """T5: a compound appearing on BOTH sides vetoes the reaction — the
    reference tests set intersection (reactions.py:186-192), not equality."""
    backend = get_backend()
    co = {"ATP": ("atp", compound_id(backend.inchi_key("atp"), "Coreactant"))}
    # ATP is both a reactant and a product role → always intersects
    rules = [Rule("futile", ["ATP", "Any"], ["Any", "ATP"], "ab>>ba")]
    eng = NetworkExpansion(spark, rules, co, frontier_partitions=2)
    _, rxns = eng.transform_all(eng.starting_compounds([("s", "xaby")]), generations=1)
    assert rxns.count() == 0


def test_prune_to_targets(spark, engine):
    """G1-G3: pruning to a target keeps only its provenance chain
    (test_pickaxe.py:218-220 shape)."""
    from mine_database_spark.operators.network import prune_network

    compounds = engine.starting_compounds([("fadh", "abab")])
    cpds, rxns = engine.transform_all(compounds, generations=2)
    target = cpds.where(F.col("smiles") == "cdcd").select("_id")
    pc, pr = prune_network(cpds, rxns, target)
    smiles = {r["smiles"] for r in pc.collect()}
    # cdcd's provenance: cdab/abcd -> abab (+ coreactants kept)
    assert "cdcd" in smiles and "abab" in smiles
    assert pr.count() == 4  # all 4 reactions produce something on the path
    # prune to a gen-1 compound cuts the gen-2 reactions
    target1 = cpds.where(F.col("smiles") == "cdab").select("_id")
    pc1, pr1 = prune_network(cpds, rxns, target1)
    assert pr1.count() == 1


def test_transform_all_rdkit_golden(spark):
    """Real-chemistry golden (reference tests/test_unit/test_pickaxe.py:92-111
    test_transform_all): the 2.7.1.a phosphorylation rule on FADH with
    ATP/ADP coreactants, explicit_h=True, 2 generations → 31 compounds
    (incl. the 2 coreactants), 49 reactions, generations {0, 1, 2}.
    Auto-activates when rdkit is installed (pip install '.[rdkit]');
    skipped under the fake backend, whose string chemistry pins the same
    engine contracts in the sibling tests."""
    import pytest as _pytest

    from mine_database_spark.chem import get_backend
    from mine_database_spark.operators.expansion import NetworkExpansion, Rule, compound_id

    backend = get_backend()
    if backend.name != "rdkit":
        _pytest.skip("rdkit not installed — fake backend active")

    # fixture data verbatim from reference tests/conftest.py:68-94 and
    # tests/data/test_reaction_rules.tsv (rule 2.7.1.a)
    ATP = (
        "Nc1ncnc2c1ncn2[C@@H]1O[C@H](COP(=O)(O)OP(=O)(O)OP(=O)(O)O)[C@@H](O)[C@H]1O"
    )
    ADP = "Nc1ncnc2c1ncn2[C@@H]1O[C@H](COP(=O)(O)OP(=O)(O)O)[C@@H](O)[C@H]1O"
    FADH = (
        "Cc1cc2c(cc1C)N(CC(O)C(O)C(O)COP(=O)(O)OP(=O)(O)OCC1OC(n3cnc"
        "4c(N)ncnc43)C(O)C1O)c1nc(O)nc(O)c1N2"
    )
    SMARTS = (
        "[#6;H2D4:8][#8;H0D2:7][#15;H0D4:6][#8;H0D2:5][#15;H0D4:4][#8;H0D2:3]"
        "[#15;H0D4:2][#8;H1D2R0:1].[#1;D1R0:11][#8;H1D2R0:10][#6:9]"
        ">>[*:1]-[*:2]-[*:10]-[*:9].[*:8]-[*:7]-[*:6]-[*:5]-[*:4]-[*:3]-[*:11]"
    )
    co = {}
    for name, smi in (("ATP", ATP), ("ADP", ADP)):
        csmi = backend.canonical_smiles(smi)
        co[name] = (csmi, compound_id(backend.inchi_key(csmi), "Coreactant", smiles=csmi))
    rule = Rule("2.7.1.a", ["ATP", "Any"], ["Any", "ADP"], SMARTS)
    engine = NetworkExpansion(spark, [rule], co, explicit_h=True)
    compounds = engine.starting_compounds([("FADH", FADH)])
    cpds, rxns = engine.transform_all(compounds, generations=2)
    assert cpds.count() == 31
    assert rxns.count() == 49
    gens = {r["generation"] for r in cpds.select("generation").distinct().collect()}
    assert gens == {0, 1, 2}


def test_pathway_bfs_constrained_guards(spark):
    """G5 constrained search parity (Scripts/pathway_search.py:32-57):
    the NP-likeness floor cuts paths through a low-scoring compound
    (excluded when NP <= np_min), the ΔG cap cuts paths through an
    endergonic reaction (excluded when energy >= gibbs_cap), and ids with
    NO score row pass both guards (the reference's KeyError → pass)."""
    from mine_database_spark.operators.network import pathway_bfs
    from mine_database_spark.schemas import REACTION_SCHEMA

    # A -> B -> C (via R1, R2) and A -> D -> C (via R3, R4)
    rxns = spark.createDataFrame(
        [
            ("R1", [(1, "A")], [(1, "B")], ["op"], None),
            ("R2", [(1, "B")], [(1, "C")], ["op"], None),
            ("R3", [(1, "A")], [(1, "D")], ["op"], None),
            ("R4", [(1, "D")], [(1, "C")], ["op"], None),
        ],
        REACTION_SCHEMA,
    )

    def paths(**kw):
        return {tuple(r["path"]) for r in pathway_bfs(rxns, ["A"], ["C"], max_depth=3, **kw).collect()}

    assert paths() == {("A", "B", "C"), ("A", "D", "C")}

    # ΔG cap: R2 at exactly the cap is excluded (>=); R1/R3/R4 have no row
    energies = spark.createDataFrame([("R2", 5.0)], "rxn_id string, energy double")
    assert paths(energies=energies, gibbs_cap=5.0) == {("A", "D", "C")}
    # below the cap it passes; a NULL energy passes too
    assert paths(energies=energies, gibbs_cap=5.1) == {("A", "B", "C"), ("A", "D", "C")}
    null_e = spark.createDataFrame([("R2", None)], "rxn_id string, energy double")
    assert paths(energies=null_e, gibbs_cap=5.0) == {("A", "B", "C"), ("A", "D", "C")}

    # NP floor: D at exactly the floor is excluded (<=); B/C have no row
    np_scores = spark.createDataFrame([("D", 0.5), ("C", 2.0)], "_id string, np double")
    assert paths(np_scores=np_scores, np_min=0.5) == {("A", "B", "C")}
    # both guards together kill every path
    assert paths(np_scores=np_scores, np_min=0.5, energies=energies, gibbs_cap=5.0) == set()
    # an excluded END compound kills all paths to it
    assert paths(np_scores=np_scores, np_min=2.0) == set()
    with pytest.raises(ValueError, match="max_depth must be >= 1"):
        pathway_bfs(rxns, ["A"], ["C"], max_depth=0)


def test_deep_chain_orphan_gc_and_prune_run_to_fixpoint(spark):
    """A 14-deep chain C0 -R1-> C1 -R2-> ... -R14-> C14: with R1 deleted
    every compound past C0 is orphaned one round after the previous one,
    and the whole chain must go; with R1 kept, pruning to the tail must
    keep the whole chain. Both loops run to fixpoint with no round cap."""
    from mine_database_spark.operators.filters import orphan_gc
    from mine_database_spark.operators.network import prune_network
    from mine_database_spark.schemas import COMPOUND_SCHEMA, REACTION_SCHEMA

    depth = 14
    cpd = lambda i, t: (f"C{i}", f"C{i}", None, None, t, i, None, None, True, None)
    compounds = spark.createDataFrame(
        [cpd(0, "Starting Compound")] + [cpd(i, "Predicted") for i in range(1, depth + 1)],
        COMPOUND_SCHEMA,
    )
    rxn = lambda i: (f"R{i}", [(1, f"C{i - 1}")], [(1, f"C{i}")], ["op"], None)
    reactions = spark.createDataFrame([rxn(i) for i in range(1, depth + 1)], REACTION_SCHEMA)

    c_gc, r_gc = orphan_gc(compounds, reactions.where("_id != 'R1'"))
    assert [r["_id"] for r in c_gc.collect()] == ["C0"]
    assert r_gc.count() == 0

    tail = spark.createDataFrame([(f"C{depth}",)], "_id string")
    c_keep, r_keep = prune_network(compounds, reactions, tail)
    assert {r["_id"] for r in c_keep.collect()} == {f"C{i}" for i in range(depth + 1)}
    assert {r["_id"] for r in r_keep.collect()} == {f"R{i}" for i in range(1, depth + 1)}


def test_enumerate_paths_excluded_nodes(spark):
    """The generic node guard: excluded nodes appear in no path — not as
    start, intermediate hop, or tail."""
    from mine_database_spark.operators.graph import enumerate_paths

    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 4), (4, 3)], "src int, dst int")
    starts = spark.createDataFrame([(1,)], "node int")
    full = {r["path"] for r in enumerate_paths(edges, starts, max_depth=3).collect()}
    assert "1->2->3" in full and "1->4->3" in full

    ex2 = spark.createDataFrame([(2,)], "id int")
    got = {r["path"] for r in enumerate_paths(edges, starts, max_depth=3, excluded_nodes=ex2).collect()}
    assert got == {"1", "1->4", "1->4->3"}

    ex_start = spark.createDataFrame([(1,)], "id int")
    none = enumerate_paths(edges, starts, max_depth=3, excluded_nodes=ex_start).collect()
    assert none == []


def test_assign_ids(spark, engine):
    """G6/W1: deterministic pkc/pkr ids + equation rendering."""
    from mine_database_spark.operators.network import assign_ids

    compounds = engine.starting_compounds([("fadh", "abab")])
    cpds, rxns = engine.transform_all(compounds, generations=1)
    ca, ra = assign_ids(cpds, rxns)
    ids = [r["id"] for r in ca.orderBy("generation", "_id").collect()]
    assert ids == [f"pkc{i + 1:07d}" for i in range(len(ids))]
    rrow = ra.collect()[0]
    assert rrow["id"].startswith("pkr")
    assert "=>" in rrow["id_rxn"]


def test_edge_table_roundtrip(spark, engine):
    compounds = engine.starting_compounds([("fadh", "abab")])
    _, rxns = engine.transform_all(compounds, generations=1)
    e = edge_table(rxns)
    assert e.where(F.col("role") == "reactant").count() == 4  # 2 rxns × (ATP + substrate)
    assert e.where(F.col("role") == "product").count() == 4   # 2 rxns × (product + ADP)


def test_filters_cascade(spark, engine):
    """F1 + F10: an MW filter that rejects everything empties the predicted
    frontier and cascades reaction deletion."""
    from mine_database_spark.operators.filters import MWFilter

    compounds = engine.starting_compounds([("fadh", "abab")])
    cpds, rxns = engine.transform_all(compounds, generations=1)
    f = MWFilter(0.0, 0.0001)  # nothing passes
    c2, r2 = f.apply(cpds, rxns, generation=1)
    assert c2.where(F.col("type") == "Predicted").count() == 0
    assert r2.count() == 0
    # a permissive filter removes nothing
    f2 = MWFilter(0.0, 1e9)
    c3, r3 = f2.apply(cpds, rxns, generation=1)
    assert c3.count() == cpds.count()
    assert r3.count() == rxns.count()
    # reference bound coercion (property.py:48-49 `or`-defaults): None AND
    # the falsy explicit 0 both coerce — max_MW=0 means the 10^5 cap
    assert (MWFilter().min_mw, MWFilter().max_mw) == (0, 100000)
    assert (MWFilter(0, 0).min_mw, MWFilter(0, 0).max_mw) == (0, 100000)


def test_similarity_filter(spark, engine):
    from mine_database_spark.operators.filters import SimilarityFilter

    compounds = engine.starting_compounds([("fadh", "abab")])
    cpds, rxns = engine.transform_all(compounds, generations=1)
    # target == one of the products → that product survives (sim 1.0)
    f = SimilarityFilter(["cdab"], threshold=0.99)
    c2, r2 = f.apply(cpds, rxns, generation=1)
    kept = {r["smiles"] for r in c2.where(F.col("type") == "Predicted").collect()}
    assert kept == {"cdab"}
    sims = {r["smiles"]: r["last_similarity"] for r in c2.collect()}
    assert sims["cdab"] == 1.0


def test_similarity_filter_increasing_gate(spark, engine):
    """W4 (similarity.py:661-668): with increasing_similarity on, a candidate
    whose similarity dropped below its stored last_similarity is cut even
    above threshold, and its stored similarity is NOT updated; increasing
    candidates update the stored value even when the threshold then cuts
    them."""
    from mine_database_spark.chem import get_backend
    from mine_database_spark.operators.filters import SimilarityFilter
    from mine_database_spark.schemas import COMPOUND_SCHEMA

    b = get_backend()
    target = "cdab"
    fp_t = set(b.fingerprint(target))
    fp_c = set(b.fingerprint("ba"))
    s = len(fp_c & fp_t) / len(fp_c | fp_t)  # current similarity of 'ba'
    assert 0.0 < s < 1.0

    def cpd(cid, last):
        return (cid, None, "ba", None, "Predicted", 1, None, None, True, last)

    cands = spark.createDataFrame(
        [cpd("C1aa", s + 0.05), cpd("C2aa", s - 0.05), cpd("C3aa", None)],
        COMPOUND_SCHEMA,
    )
    f = SimilarityFilter([target], threshold=0.0, increasing_similarity=True)
    rows = {r["_id"]: r for r in f.choose(cands, generation=1).collect()}
    assert rows["C1aa"]["keep"] is False          # decreased -> cut
    assert rows["C1aa"]["__set_last_similarity"] is None  # stored value kept
    assert rows["C2aa"]["keep"] is True
    assert abs(rows["C2aa"]["__set_last_similarity"] - s) < 1e-12
    assert rows["C3aa"]["keep"] is True           # unseen always increasing
    # threshold still applies on top of the monotonic gate, but the stored
    # similarity updates for increasing candidates even when cut
    f_hi = SimilarityFilter([target], threshold=0.99, increasing_similarity=True)
    rows = {r["_id"]: r for r in f_hi.choose(cands, generation=1).collect()}
    assert rows["C2aa"]["keep"] is False
    assert abs(rows["C2aa"]["__set_last_similarity"] - s) < 1e-12


def test_weighted_sampling_filter(spark, engine):
    from mine_database_spark.operators.filters import SimilaritySamplingFilter

    compounds = engine.starting_compounds([("s", "ababab")])
    cpds, rxns = engine.transform_all(compounds, generations=1)
    n_pred = cpds.where(F.col("type") == "Predicted").count()
    f = SimilaritySamplingFilter(["cdabab"], sample_size=2, min_sim=0.0)
    c2, _ = f.apply(cpds, rxns, generation=1)
    assert c2.where(F.col("type") == "Predicted").count() <= n_pred
    # deterministic: same seed-free hash sampling twice
    c3, _ = f.apply(cpds, rxns, generation=1)
    assert {r["_id"] for r in c2.collect()} == {r["_id"] for r in c3.collect()}


def test_reactions_per_operator(spark, engine):
    from mine_database_spark.operators.expansion import reactions_per_operator

    compounds = engine.starting_compounds([("s", "abab")])
    cpds, rxns = engine.transform_all(compounds, generations=1)
    got = {r["operator"]: r["n_reactions"] for r in reactions_per_operator(rxns).collect()}
    assert len(got) == 1 and sum(got.values()) == rxns.count()


def test_bench_and_oracle_coverage():
    """Every registry query must carry a value-level oracle (rows+schema+
    hash gate) — a rows-only query would silently weaken the correctness
    gate. (Bench coverage needs no test: bench.py auto-appends new registry
    queries to HEADLINE and asserts equality at import.) HEADLINE must also
    stay duplicate-free — a duplicate would double-count one query's time
    in the reported total."""
    import bench

    from mine_database_spark.queries.registry import ORACLES, QUERIES

    assert set(ORACLES) == set(QUERIES)
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))
