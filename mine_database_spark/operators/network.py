"""Network-level graph operators on the compound/reaction state
(SURVEY §2.4 G1-G6): minimal-set reverse BFS, pruning, pathway search,
deterministic id assignment.

Reference semantics: find_minimal_set (pickaxe.py:995-1044), prune_network
(pickaxe.py:942-969), prune_network_to_targets (pickaxe.py:971-993),
assign_ids (pickaxe.py:1046-1102), PathwaySearch.bfs
(Scripts/pathway_search.py:59-144).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mine_database_spark.operators.expansion import edge_table
from mine_database_spark.operators.graph import _path_levels
from mine_database_spark.operators.iterate import iterate


def reverse_edges(reactions: DataFrame) -> DataFrame:
    """(product c_id) -> (reactant c_id) provenance edges, one per reaction.

    Reverse-BFS over these reaches every compound/reaction needed to produce
    a whitelist — the reference walks Product_of adjacency the same way.
    """
    e = edge_table(reactions)
    prods = e.where(F.col("role") == "product").select("rxn_id", F.col("c_id").alias("src"))
    reacts = e.where(F.col("role") == "reactant").select("rxn_id", F.col("c_id").alias("dst"))
    return prods.join(reacts, "rxn_id").select("src", "dst", "rxn_id")


def find_minimal_set(reactions: DataFrame, whitelist: DataFrame):
    """Compounds + reactions reachable backwards from whitelist ids.

    Returns (compound_ids DF['_id'], reaction_ids DF['rxn_id']). Each round
    joins the frontier to the reverse edges on `iterate`; the frontier holds
    only never-visited compounds, so the walk ends (no round cap) at the
    first empty frontier, at most one round per compound.
    """
    redges = reverse_edges(reactions).localCheckpoint(eager=True)
    first = (
        whitelist.select(F.col(whitelist.columns[0]).alias("_id")).distinct(),
        reactions.sparkSession.createDataFrame([], "rxn_id string"),
    )

    def visited(history):
        return reduce(DataFrame.unionByName, [frontier for frontier, _ in history])

    def step(history):
        frontier, rxns = history[-1]
        hop = redges.join(F.broadcast(frontier).withColumnRenamed("_id", "src"), "src")
        return (
            hop.select(F.col("dst").alias("_id")).distinct().join(visited(history), "_id", "left_anti"),
            rxns.unionByName(hop.select("rxn_id").distinct().join(rxns, "rxn_id", "left_anti")),
        )

    history, _ = iterate(first, step, max_rounds=None, done=lambda prev, new: new[0].isEmpty())
    return visited(history), history[-1][1]


def prune_network(compounds: DataFrame, reactions: DataFrame, whitelist: DataFrame):
    """Restrict state to the minimal set producing the whitelist (G2),
    keeping coreactants/targets as the reference does."""
    keep_c, keep_r = find_minimal_set(reactions, whitelist)
    compounds_out = compounds.join(keep_c, "_id", "left_semi").unionByName(
        compounds.where(F.col("type").isin("Coreactant", "Target Compound")).join(keep_c, "_id", "left_anti")
    )
    reactions_out = reactions.join(keep_r, reactions["_id"] == keep_r["rxn_id"], "left_semi")
    return compounds_out, reactions_out


def prune_network_to_targets(compounds: DataFrame, reactions: DataFrame, target_ids: list[str]):
    """G3: whitelist = 'C'-twins of target ids ('T' prefix swap,
    pickaxe.py:980-981)."""
    twins = [("C" + t[1:],) for t in target_ids]
    wl = compounds.sparkSession.createDataFrame(twins, "_id string")
    return prune_network(compounds, reactions, wl)


def assign_ids(compounds: DataFrame, reactions: DataFrame):
    """G6/W1 (pickaxe.py:1046-1102): deterministic sequential ids over
    (generation, _id)-sorted compounds and _id-sorted reactions, plus the
    rendered reaction equation string.

    The sequential numbering runs as distributed_rank (a two-level
    distributed prefix sum, packing.py) over the narrow id projection —
    one RANGE shuffle whose partitions number rows in parallel, with only
    the O(#partitions) offset rows ever passing through a single task.
    The earlier global `row_number() OVER (ORDER BY ...)` compiled to a
    single-partition sort of the projection: tolerable at the reference's
    571k-compound scale, a straggler at 100 TB. Values are identical
    (same total order, same 1-based numbering); the full rows join back
    by hash either way.
    """
    from mine_database_spark.operators.packing import distributed_rank

    cids = distributed_rank(
        compounds.select("_id", "generation"), ["generation", "_id"], rank_col="__rk"
    ).select("_id", F.format_string("pkc%07d", F.col("__rk")).alias("new_id"))
    compounds_out = compounds.join(cids, "_id").withColumn("id", F.coalesce("new_id", "id")).drop("new_id")

    rids = distributed_rank(reactions.select("_id"), ["_id"], rank_col="__rk").select(
        "_id", F.format_string("pkr%07d", F.col("__rk")).alias("id")
    )
    reactions_out = reactions.join(rids, "_id")

    # equation rendering: join stoich entries to compound display ids (J8)
    name_map = compounds_out.select(F.col("_id").alias("c_id"), F.col("id").alias("c_name"))
    e = edge_table(reactions_out)
    rendered = (
        e.join(name_map, "c_id")
        .withColumn("term", F.concat_ws(" ", F.col("stoich").cast("string"), F.col("c_name")))
        .groupBy("rxn_id", "role")
        .agg(F.concat_ws(" + ", F.array_sort(F.collect_list("term"))).alias("side"))
        .groupBy("rxn_id")
        .pivot("role", ["reactant", "product"])
        .agg(F.first("side"))
        .select(
            F.col("rxn_id").alias("_id"),
            F.concat_ws(" => ", F.col("reactant"), F.col("product")).alias("id_rxn"),
        )
    )
    reactions_out = reactions_out.join(rendered, "_id", "left")
    return compounds_out, reactions_out


def pathway_bfs(
    reactions: DataFrame,
    start_ids: list[str],
    end_ids: list[str],
    max_depth: int = 5,
    np_scores: DataFrame | None = None,
    np_min: float | None = None,
    energies: DataFrame | None = None,
    gibbs_cap: float | None = None,
) -> DataFrame:
    """G5: start→end pathway enumeration carrying path arrays; depth-capped
    iterative joins (Scripts/pathway_search.py:59-144) on the walk
    `graph.enumerate_paths` runs (`graph._path_levels`). Returns (node,
    path, length) for every path of 1..max_depth hops ending in `end_ids`.

    Constrained search (pathway_search.py:32-57): with `np_scores`
    (id, NP_likeness) and `np_min`, compounds scoring <= np_min are excluded
    from every hop (the reference's __compound_tests); with `energies`
    (id, energy) and `gibbs_cap`, reactions with energy >= gibbs_cap are
    excluded (__reaction_checks). A compound/reaction with NO score row
    PASSES (the reference's KeyError → pass), so each guard is one anti-join
    of the edge set against its failing ids — node/edge PRE-filters built
    once before the iteration, not per-hop predicates re-evaluated in the
    loop. Deliberate normalization: the guards apply uniformly to every hop
    including start and end compounds (the reference's DFS appends the end
    compound untested and __load_queue skips all checks on the first hop —
    asymmetries its BFS does not share).
    """
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    spark = reactions.sparkSession
    fedges = reverse_edges(reactions).select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "rxn_id"
    )  # forward: reactant -> product
    if energies is not None and gibbs_cap is not None:
        idc, vc = energies.columns[0], energies.columns[1]
        bad_r = energies.where(F.col(vc).isNotNull() & (F.col(vc) >= gibbs_cap)).select(
            F.col(idc).alias("rxn_id")
        )
        fedges = fedges.join(bad_r, "rxn_id", "left_anti")
    bad_c = None
    if np_scores is not None and np_min is not None:
        idc, vc = np_scores.columns[0], np_scores.columns[1]
        bad_c = np_scores.where(F.col(vc).isNotNull() & (F.col(vc) <= np_min)).select(idc)
    starts = spark.createDataFrame([(s, [s]) for s in start_ids], "node string, nodes array<string>")
    levels = _path_levels(fedges, starts, max_depth, bad_c)
    out = reduce(DataFrame.unionByName, levels[1:]).where(F.col("node").isin(end_ids))
    return out.select("node", F.col("nodes").alias("path"), F.size("nodes").alias("length")).orderBy(
        "length", "node"
    )
