"""The benchmark's workloads: which catalog entries each one runs, at
what input size, and which layer of the program each entry exercises.

The entry lists are fixed here, not read from the program, so a later
change that adds catalog entries does not change what is measured.
"""
import random

# layer names used for span self time (see README.md, "Layers")
DW, SERVE, INDEX, RETRIEVAL = "dw", "ops+plans", "ext.index+sources", "ext.retrieval+functions"

# Analyst SQL over the star schema: the read-only entries of the ops.*
# modules, plans.AsOfQueries and dw.DateDimQueries, plus the
# ops.WarehouseDemo entries that run the warehouse transforms (dw) over
# rows derived from the same tables. None writes to graft_cat or to
# scratch; q38 (rows-only) is not among them.
STAR_SERVING = {
    "q01_pricing_summary": SERVE, "q04_star_join": SERVE, "q07_anti_join": SERVE,
    "q52_grouping_sets": SERVE, "q141_shipping_priority": SERVE, "ext23_asof_join": SERVE,
    "q33_wh_categories": DW, "q45_wh_user_elite_friends": DW,
}

# The write path and the read path over it: each entry commits DML to a
# graft_cat corpus and maintains its index through ensure*Cdc in the setup
# span, then queries the maintained index in the probe span.
INDEX_MAINT = {
    "ext135_ann_cdc_maintenance": INDEX,     # IVF ANN index
    "ext136_search_cdc_maintenance": INDEX,  # BM25 search index
    "ext148_graph_cdc_maintenance": INDEX,   # graph ANN index: the hop-loop walk
}

WORKLOADS = {
    "star_serving": dict(entries=STAR_SERVING, target=SERVE, sf=0.1, warm_sf=0.001, pass_s=5.0,
                         warm=["q01_pricing_summary", "q04_star_join"]),
    "index_maint": dict(entries=INDEX_MAINT, target=INDEX, probe_layer=RETRIEVAL, sf=0.01,
                        warm_sf=0.001, pass_s=15.0, warm=["ext126_ann_index_probe1"]),
}


def passes(name, seed, seconds):
    """The seeded op order: the untimed first pass, then the timed passes,
    each a permutation of the workload's entries. The number of timed
    passes is ``seconds / pass_s``, rounded, at least one. It depends on
    nothing measured, so every run of a workload times the same ops; each
    pass has its own order, so more passes average out order effects.
    ``pass_s`` is set so that ``--seconds 15`` times three passes of
    star_serving (about 20 s on a 4-core host) and one of index_maint
    (about 14 s)."""
    w = WORKLOADS[name]
    rng = random.Random(f"{name}:{seed}")
    out = []
    for _ in range(1 + max(1, round(seconds / w["pass_s"]))):
        p = sorted(w["entries"])
        rng.shuffle(p)
        out.append(p)
    return out
