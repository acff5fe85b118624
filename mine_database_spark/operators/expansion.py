"""Network-expansion engine — the reference's core batch "query".

Reference semantics (studied at /root/reference, not copied):
  * generational driver loop            pickaxe.py:610-685  (T1)
  * frontier selection                  pickaxe.py:657-664  (T2)
  * per-compound × all-rules expansion  reactions.py:224-398 (T3/T4/T5)
  * merge, first-generation-wins        pickaxe.py:1489-1522 (T7, E1/E2/A3)
  * cofactor-redundancy rewrite + GC    pickaxe.py:793-940  (T8)
  * compound/reaction content hashes    utils.py:115-164, 324-379 (X1/X2)

Spark-first design:
  * State is two DataFrames (compounds, reactions) + a derived edge table;
    each generation is one mapInPandas over the frontier followed by purely
    relational merge/rewrite/GC steps. localCheckpoint every generation cuts
    the iterative lineage (mandatory on Spark).
  * Rules and coreactants are tiny dimensions → broadcast variables into the
    expansion UDF (reference does the same per worker, reactions.py:356-364).
  * Chemistry runs per Arrow batch inside the UDF (the only Python in the
    hot path); everything else is Catalyst — hashes are native sha1/sha2
    over canonicalized arrays, dedup/merge are joins and aggregations.
  * Scale: the frontier is repartitioned before expansion because molecule
    cost is wildly skewed (SURVEY §7.4); product dedup shuffles on _id —
    a content hash, so perfectly distributed; no collect() anywhere.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from mine_database_spark.chem import get_backend
from mine_database_spark.schemas import COMPOUND_SCHEMA, STOICH_SCHEMA

# ---------------------------------------------------------------------------
# identity (X1/X2, utils.py:115-164 & 324-379 semantics)


def compound_id(
    inchi_key: str, ctype: str = "Predicted", inchi_blocks: int = 1,
    smiles: str | None = None,
) -> str:
    """Type prefix + sha1 of the structure-identity block(s) of the
    InChIKey (reference utils.py:115-165 get_compound_hash): by default the
    first block (structural skeleton); inchi_blocks=2 also hashes the
    stereo/isotope block. Wildcard compounds ('*' in SMILES) hash the raw
    SMILES instead — wildcards have no meaningful InChIKey (reference
    :152-153)."""
    prefix = {"Coreactant": "X", "Target Compound": "T"}.get(ctype, "C")
    if smiles is not None and "*" in smiles:
        block = smiles
    else:
        block = (inchi_key or "").rsplit("-", 3 - inchi_blocks)[0]
    return prefix + hashlib.sha1(block.encode()).hexdigest()


_EXPANSION_OUT = StructType(
    [
        StructField("operator", StringType(), False),
        StructField("rxn_smiles", StringType(), True),
        StructField("reactants", ArrayType(STOICH_SCHEMA), False),
        StructField("products", ArrayType(STOICH_SCHEMA), False),
        StructField(
            "new_compounds",
            ArrayType(
                StructType(
                    [
                        StructField("_id", StringType(), False),
                        StructField("smiles", StringType(), False),
                        StructField("inchi_key", StringType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


@dataclass
class Rule:
    name: str
    reactant_roles: list[str]
    product_roles: list[str]
    smarts: str


def canonical_rxn_hash_col(reactants, products):
    """'R' + sha256 over the canonical sorted equation text — native Catalyst
    (array_sort + concat_ws + sha2), no UDF. Order-independent as in the
    reference (utils.py:324-379)."""
    def side(col):
        return F.concat_ws(
            "+", F.array_sort(F.transform(col, lambda x: F.concat_ws(":", x["stoich"].cast("string"), x["c_id"])))
        )

    return F.concat(F.lit("R"), F.sha2(F.concat(side(reactants), F.lit("=>"), side(products)), 256))


# ---------------------------------------------------------------------------
# expansion UDF


def _fold_half_rxn(occurrences: list[tuple[str, str]]):
    """Duplicate-compound stoichiometry folding (reference _make_half_rxn,
    reactions.py:87-118): a role list binding the same compound twice yields
    ONE (stoich=2, c_id) entry, first-occurrence order. Returns
    [(stoich, c_id)] plus the unique (c_id, smiles) pairs for atom counting."""
    counter: dict[str, int] = {}
    order: list[tuple[str, str]] = []
    for cid, smi in occurrences:
        if cid not in counter:
            counter[cid] = 0
            order.append((cid, smi))
        counter[cid] += 1
    return [(counter[cid], cid) for cid, _ in order], order


def _side_atoms(backend, folded, uniques, cache):
    """Charge-corrected element counts of one half-reaction (reference
    reactions.py:106-113): sum(atom_count × stoich) with H -= Σ formal
    charge × stoich."""
    from collections import Counter

    atoms: Counter = Counter()
    charge = 0
    stoich_by_id = dict((cid, s) for s, cid in folded)
    for cid, smi in uniques:
        if smi not in cache:
            cache[smi] = (backend.atom_count(smi), backend.formal_charge(smi))
        ac, ch = cache[smi]
        s = stoich_by_id[cid]
        for el, n in ac.items():
            atoms[el] += n * s
        charge += ch * s
    atoms["H"] -= charge
    # return the RAW counter — a negative H (charge correction without H
    # atoms) must stay visible to the symmetric-difference test, exactly as
    # the reference's Counter arithmetic behaves
    return atoms


def _make_expand_fn(
    rules: list[Rule],
    coreactants: dict[str, tuple[str, str]],
    max_products: int,
    check_balance: bool | None = None,
    explicit_h: bool = False,
    kekulize: bool = True,
):
    """Build the mapInPandas function. `coreactants` maps role name ->
    (smiles, c_id). The wildcard role 'Any' binds the frontier compound
    (reference reactions.py:276-278).

    check_balance: element-balance rejection (reference reactions.py:194-198
    — Counter symmetric difference over charge-corrected atom counts). None
    (default) defers to `backend.conserves_atoms`: the RDKit path always
    checks, like the reference; the fake backend's substring chemistry is
    non-conservative by construction, so it defaults off there."""

    def expand(batches):
        backend = get_backend()
        balance = (
            check_balance
            if check_balance is not None
            else getattr(backend, "conserves_atoms", True)
        )
        compiled = [(r, backend.compile_rule(r.smarts)) for r in rules]
        atom_cache: dict[str, tuple[dict, int]] = {}
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in ("operator", "rxn_smiles", "reactants", "products", "new_compounds")}
            for smiles, sub_id in zip(pdf["smiles"], pdf["_id"]):
                for rule, crule in compiled:
                    # bind reactant slots
                    try:
                        r_occ = []
                        r_smiles = []
                        ok = True
                        for role in rule.reactant_roles:
                            if role == "Any":
                                r_occ.append((sub_id, smiles))
                                r_smiles.append(smiles)
                            else:
                                co = coreactants.get(role)
                                if co is None:
                                    ok = False
                                    break
                                r_occ.append((co[1], co[0]))
                                r_smiles.append(co[0])
                        if not ok:
                            continue
                        r_entries, r_uniq = _fold_half_rxn(r_occ)
                        r_atoms = (
                            _side_atoms(backend, r_entries, r_uniq, atom_cache) if balance else None
                        )
                        product_sets = backend.run_reaction(
                            crule,
                            r_smiles,
                            max_products,
                            explicit_h=explicit_h,
                            kekulize=kekulize,
                        )
                    except Exception:
                        continue
                    r_ids = {cid for cid, _ in r_uniq}
                    for pset in product_sets:
                        p_occ = []
                        new_cpds = []
                        p_smiles = []
                        valid = True
                        any_idx = 0
                        for role in rule.product_roles:
                            if role == "Any":
                                if any_idx >= len(pset):
                                    valid = False
                                    break
                                psmi = backend.canonical_smiles(pset[any_idx])
                                any_idx += 1
                                if psmi and "n" in psmi:
                                    # resolve tautomers, keep the canonical
                                    # (lexicographically first) choice —
                                    # reference reactions.py:126-129
                                    psmi = backend.postsanitize(psmi)
                                if not psmi or "." in psmi:
                                    # reject multi-fragment (reactions.py:142-143)
                                    valid = False
                                    break
                                ikey = backend.inchi_key(psmi)
                                pid = compound_id(ikey, "Predicted", smiles=psmi)
                                p_occ.append((pid, psmi))
                                new_cpds.append((pid, psmi, ikey))
                                p_smiles.append(psmi)
                            else:
                                co = coreactants.get(role)
                                if co is None:
                                    valid = False
                                    break
                                p_occ.append((co[1], co[0]))
                                p_smiles.append(co[0])
                        if not valid or not p_occ:
                            continue
                        p_entries, p_uniq = _fold_half_rxn(p_occ)
                        # unchanged-reactant elimination: reject if ANY compound
                        # appears on both sides (reference reactions.py:186-192
                        # uses set intersection, not equality)
                        if r_ids & {cid for cid, _ in p_uniq}:
                            continue
                        # atom-balance rejection (reactions.py:194-205): the
                        # symmetric difference of the charge-corrected element
                        # counters must be empty
                        if balance:
                            p_atoms = _side_atoms(backend, p_entries, p_uniq, atom_cache)
                            if (r_atoms - p_atoms) or (p_atoms - r_atoms):
                                continue
                        # dedupe duplicate new-compound occurrences (folded above)
                        seen_new = set()
                        new_cpds = [
                            t for t in new_cpds if not (t[0] in seen_new or seen_new.add(t[0]))
                        ]
                        out["operator"].append(rule.name)
                        out["rxn_smiles"].append(
                            " + ".join(r_smiles) + " => " + " + ".join(p_smiles)
                        )
                        out["reactants"].append([{"stoich": s, "c_id": c} for s, c in r_entries])
                        out["products"].append([{"stoich": s, "c_id": c} for s, c in p_entries])
                        out["new_compounds"].append(
                            [{"_id": i, "smiles": s, "inchi_key": k} for i, s, k in new_cpds]
                        )
            if out["operator"]:
                # an all-empty batch would materialize float64 columns that
                # Arrow cannot cast to list<struct> — yield nothing instead
                yield pd.DataFrame(out)

    return expand


# ---------------------------------------------------------------------------
# engine


class NetworkExpansion:
    """DataFrame-state equivalent of the reference Pickaxe object."""

    def __init__(
        self,
        spark: SparkSession,
        rules: list[Rule],
        coreactants: dict[str, tuple[str, str]],
        max_products: int = 10000,
        frontier_partitions: int | None = None,
        check_balance: bool | None = None,
        explicit_h: bool = False,
        kekulize: bool = True,
    ):
        self.spark = spark
        self.rules = rules
        self.coreactants = coreactants
        self.max_products = max_products
        self.frontier_partitions = frontier_partitions
        self.check_balance = check_balance
        # RDKit mol-prep flags threaded into backend.run_reaction (the
        # reference Pickaxe(explicit_h=, kekulize=) pair, pickaxe.py:147-168;
        # rules binding [#1] atoms, e.g. 2.7.1.a, need explicit_h=True)
        self.explicit_h = explicit_h
        self.kekulize = kekulize

    # -- state constructors -------------------------------------------------
    def starting_compounds(
        self, id_smiles: list[tuple[str, str]], neutralise: bool = True
    ) -> DataFrame:
        """Load starting compounds from a driver-side (name, smiles) list —
        thin wrapper over starting_compounds_df for the reference's
        list-of-seeds entry point (pickaxe.py:296-330)."""
        seeds = self.spark.createDataFrame(
            [(n, s, i) for i, (n, s) in enumerate(id_smiles)],
            "id string, structure string, __pos long",
        )
        return self.starting_compounds_df(seeds, neutralise=neutralise)

    def starting_compounds_df(
        self, seeds: DataFrame, neutralise: bool = True
    ) -> DataFrame:
        """Load starting compounds (reference pickaxe.py:296-330 + 480-496)
        from a DataFrame with columns (id, structure[, __pos]) — the shape
        read_compound_list returns. Seed lists are user data (possibly
        millions of rows), so canonicalize → optional charge neutralization
        (default on, as the reference) → tautomer postsanitize for
        aromatic-N molecules all run EXECUTOR-side in the same Arrow
        mapInPandas path as expansion; nothing is collected to the driver.
        First occurrence per compound id wins (__pos = file order), matching
        the reference's sequential-loop dedup. The reference's organic-only
        gate ('C'/'c' in SMILES) applies under real chemistry; the fake
        backend's molecules are letter strings, so the gate is
        backend-flagged."""
        from pyspark.sql.types import LongType

        from mine_database_spark.operators.dedup import first_wins_dedup

        if "__pos" not in seeds.columns:
            seeds = seeds.withColumn("__pos", F.monotonically_increasing_id())
        seeds = seeds.select("id", "structure", "__pos")
        neutralise_flag = neutralise

        def sanitize(batches):
            backend = get_backend()
            organic_gate = getattr(backend, "organic_filter", False)
            for pdf in batches:
                out: dict[str, list] = {
                    k: []
                    for k in (
                        "_id", "id", "smiles", "inchi_key", "type", "generation",
                        "formula", "atom_count", "expand", "last_similarity", "__pos",
                    )
                }
                for name, smi, pos in zip(pdf["id"], pdf["structure"], pdf["__pos"]):
                    csmi = backend.canonical_smiles(smi)
                    if not csmi:
                        continue
                    if organic_gate and not ("C" in csmi or "c" in csmi):
                        continue
                    if neutralise_flag:
                        csmi = backend.neutralize(csmi)
                    if "n" in csmi:
                        csmi = backend.postsanitize(csmi)
                    ikey = backend.inchi_key(csmi)
                    out["_id"].append(compound_id(ikey, "Starting Compound", smiles=csmi))
                    out["id"].append(name)
                    out["smiles"].append(csmi)
                    out["inchi_key"].append(ikey)
                    out["type"].append("Starting Compound")
                    out["generation"].append(0)
                    out["formula"].append(backend.formula(csmi))
                    out["atom_count"].append(dict(backend.atom_count(csmi)))
                    out["expand"].append(True)
                    out["last_similarity"].append(None)
                    out["__pos"].append(pos)
                if out["_id"]:
                    yield pd.DataFrame(out)

        schema = StructType(COMPOUND_SCHEMA.fields + [StructField("__pos", LongType(), True)])
        sanitized = seeds.mapInPandas(sanitize, schema)

        backend = get_backend()
        coreactant_rows = []
        # coreactant __pos sits above every possible seed position
        # (monotonically_increasing_id < 2^33·partitions + rows << 2^62), so
        # the single first-wins dedup below also resolves seed/coreactant id
        # collisions seed-first — the reference's shared `seen` set across
        # both loops — without broadcasting the (large) seed id set
        for i, (role, (smi, cid)) in enumerate(self.coreactants.items()):
            ikey = backend.inchi_key(smi)
            coreactant_rows.append(
                (cid, role, smi, ikey, "Coreactant", 0, backend.formula(smi),
                 backend.atom_count(smi), False, None, (1 << 62) + i)
            )
        cor = self.spark.createDataFrame(coreactant_rows, schema)
        return first_wins_dedup(sanitized.unionByName(cor), "_id", ["__pos"]).drop("__pos")

    def empty_reactions(self) -> DataFrame:
        from mine_database_spark.schemas import REACTION_SCHEMA

        return self.spark.createDataFrame([], REACTION_SCHEMA)

    # -- one generation -----------------------------------------------------
    def expand_generation(self, compounds: DataFrame, reactions: DataFrame, gen: int):
        """Run generation `gen` (frontier = expandable gen-1 compounds)."""
        frontier = compounds.where(
            (F.col("generation") == gen - 1)
            & F.col("expand")
            & ~F.col("type").isin("Coreactant", "Target Compound")
        ).select("_id", "smiles")
        nparts = self.frontier_partitions or self.spark.sparkContext.defaultParallelism
        frontier = frontier.repartition(nparts)  # molecule-cost skew (SURVEY §7.4)

        raw = frontier.mapInPandas(
            _make_expand_fn(
                self.rules,
                self.coreactants,
                self.max_products,
                self.check_balance,
                explicit_h=self.explicit_h,
                kekulize=self.kekulize,
            ),
            _EXPANSION_OUT,
        )
        raw = raw.withColumn("_id", canonical_rxn_hash_col(F.col("reactants"), F.col("products")))

        # reaction merge: operator-set union on hash collision (A3)
        new_rxns = (
            raw.groupBy("_id")
            .agg(
                F.first("reactants").alias("reactants"),
                F.first("products").alias("products"),
                F.array_sort(F.array_distinct(F.collect_list("operator"))).alias("operators"),
                F.first("rxn_smiles").alias("smiles_rxn"),
            )
        )

        # compound merge: first-generation-wins via anti-join (E1)
        backend = get_backend()
        bname = backend.name

        new_cpds = (
            raw.select(F.explode("new_compounds").alias("nc"))
            .select(F.col("nc._id").alias("_id"), F.col("nc.smiles").alias("smiles"), F.col("nc.inchi_key").alias("inchi_key"))
            .dropDuplicates(["_id"])
            .join(compounds.select("_id"), "_id", "left_anti")
        )

        @F.pandas_udf("struct<formula:string, atom_count:map<string,int>>")
        def descriptors(smiles: pd.Series) -> pd.DataFrame:
            from mine_database_spark.chem import get_backend as _gb

            b = _gb()
            return pd.DataFrame(
                {"formula": smiles.map(b.formula), "atom_count": smiles.map(b.atom_count)}
            )

        new_cpds = (
            new_cpds.withColumn("d", descriptors(F.col("smiles")))
            .select(
                "_id",
                F.col("_id").alias("id"),
                "smiles",
                "inchi_key",
                F.lit("Predicted").alias("type"),
                F.lit(gen).alias("generation"),
                F.col("d.formula").alias("formula"),
                F.col("d.atom_count").alias("atom_count"),
                F.lit(True).alias("expand"),
                F.lit(None).cast("double").alias("last_similarity"),
            )
        )

        # cofactor rewrite on THIS generation's reactions only — the rewrite
        # is idempotent, old reactions were rewritten when they were new, and
        # new reactions can only reference new or coreactant ids. Keeps the
        # per-generation cost proportional to the frontier's output instead
        # of the whole accumulated network.
        cof_ids = [cid for _, cid in self.coreactants.values()]
        new_rxns = rewrite_cofactor_reactions(new_rxns, cof_ids)
        # orphan GC likewise scopes to the new compounds: a new predicted
        # compound survives only if a surviving new reaction references it
        new_refs = edge_table(new_rxns).select("c_id").distinct()
        new_cpds = new_cpds.join(new_refs, new_cpds["_id"] == new_refs["c_id"], "left_semi")

        compounds_out = compounds.unionByName(new_cpds)
        reactions_out = merge_reactions(reactions, new_rxns)
        return compounds_out.localCheckpoint(eager=True), reactions_out.localCheckpoint(eager=True)

    # -- full run -----------------------------------------------------------
    def transform_all(self, compounds: DataFrame, generations: int, filters: list | None = None):
        """Reference transform_all (pickaxe.py:610-685): filter → expand →
        merge, per generation."""
        reactions = self.empty_reactions()
        for gen in range(1, generations + 1):
            for filt in filters or []:
                compounds, reactions = filt.apply(compounds, reactions, gen - 1)
            compounds, reactions = self.expand_generation(compounds, reactions, gen)
        return compounds, reactions


# ---------------------------------------------------------------------------
# relational merge pieces (shared with IO/persistence layer)


def merge_reactions(existing: DataFrame, new: DataFrame) -> DataFrame:
    """Union + operator-set union per reaction hash (pickaxe.py:1500-1502)."""
    return (
        existing.unionByName(new)
        .groupBy("_id")
        .agg(
            F.first("reactants").alias("reactants"),
            F.first("products").alias("products"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("operators")))).alias("operators"),
            F.first("smiles_rxn").alias("smiles_rxn"),
        )
    )


def reactions_per_operator(reactions: DataFrame) -> DataFrame:
    """A4 (reference rules tracking 'Reactions_predicted' per operator, e.g.
    pickaxe.py:1117-1131 rule hit counts): explode each reaction's operator
    set and count — one map-side-combinable aggregation after the explode."""
    return (
        reactions.select(F.explode("operators").alias("operator"))
        .groupBy("operator")
        .agg(F.count(F.lit(1)).alias("n_reactions"))
    )


def edge_table(reactions: DataFrame) -> DataFrame:
    """Exploded bipartite adjacency (replaces Reactant_in/Product_of lists)."""
    r = reactions.select(
        F.col("_id").alias("rxn_id"), F.explode("reactants").alias("e"), F.lit("reactant").alias("role")
    )
    p = reactions.select(
        F.col("_id").alias("rxn_id"), F.explode("products").alias("e"), F.lit("product").alias("role")
    )
    return r.unionByName(p).select(
        F.col("e.c_id").alias("c_id"), "rxn_id", "role", F.col("e.stoich").alias("stoich")
    )


def rewrite_cofactor_reactions(reactions: DataFrame, cofactor_ids: list[str]):
    """T8 reaction half (pickaxe.py:793-927): products/reactants whose hash
    suffix has an 'X'-twin among the coreactants are rewritten to the twin
    id; reactions are re-hashed and re-deduped; no-op (lhs==rhs) and
    all-cofactor-reactant reactions are dropped. Idempotent.

    The suffix→twin mapping is inlined as a map literal (the cofactor set is
    the coreactant file — bounded at ~tens of rows), so the whole rewrite is
    ONE projection with an array transform: no explode, no join, no
    re-collect. The previous join-based form cost 2 posexplodes + 3 joins
    per generation — pure overhead at this cardinality.
    """
    if cofactor_ids:
        cmap = F.create_map(*[F.lit(v) for x in cofactor_ids for v in (x[1:], x)])

        def rewrite(col):
            return F.transform(
                col,
                lambda x: F.struct(
                    x["stoich"].alias("stoich"),
                    F.when(
                        x["c_id"].startswith("C"),
                        F.coalesce(F.element_at(cmap, F.substring(x["c_id"], 2, 128)), x["c_id"]),
                    )
                    .otherwise(x["c_id"])
                    .alias("c_id"),
                ),
            )

        rew = reactions.select(
            "_id",
            "operators",
            "smiles_rxn",
            rewrite(F.col("reactants")).alias("reactants"),
            rewrite(F.col("products")).alias("products"),
        )
    else:
        rew = reactions
    rew = rew.withColumn("new_id", canonical_rxn_hash_col(F.col("reactants"), F.col("products")))

    # drop no-op reactions (lhs == rhs after rewrite) and reactions whose
    # reactants are all cofactors (reference pickaxe.py:856-864)
    rew = rew.where(
        F.array_sort(F.transform("reactants", lambda x: x["c_id"]))
        != F.array_sort(F.transform("products", lambda x: x["c_id"]))
    ).where(F.exists("reactants", lambda x: ~x["c_id"].startswith("X")))

    return (
        rew.select(F.col("new_id").alias("_id"), "reactants", "products", "operators", "smiles_rxn")
        .groupBy("_id")
        .agg(
            F.first("reactants").alias("reactants"),
            F.first("products").alias("products"),
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("operators")))).alias("operators"),
            F.first("smiles_rxn").alias("smiles_rxn"),
        )
    )

