from cminer_spark.operators.edges import (
    extract_edges,
    extract_edges_delta,
    extract_edges_sql,
    passthrough_turns,
    vertices_from_transcripts,
)
from cminer_spark.operators.graph import (
    cooccurrence,
    csr_blocks,
    degrees,
    degrees_by_type,
    hub_vertices,
    undirected_adjacency,
)
from cminer_spark.operators.pagerank import pagerank
from cminer_spark.operators.pregel import pregel, pregel_components
from cminer_spark.operators.hits import hits, salsa
from cminer_spark.operators.katz import katz
from cminer_spark.operators.components import (
    connected_components,
    hashmin_components,
    incremental_components,
)
from cminer_spark.operators.lpa import label_propagation
from cminer_spark.operators.scc import strongly_connected_components
from cminer_spark.operators.sampling import (
    negative_edge_samples,
    sample_neighborhoods,
)
from cminer_spark.operators.walks import node2vec_walks, random_walks
from cminer_spark.operators.triangles import triangle_counts
from cminer_spark.operators.truss import ktruss_edges
from cminer_spark.operators.stats import (
    conductance,
    degree_assortativity,
    degree_histogram,
    graph_summary,
    modularity,
    graph_diff,
    rank_churn,
)
from cminer_spark.operators.eigen import eigenvector_centrality
from cminer_spark.operators.linkpred import link_prediction_scores
from cminer_spark.operators.louvain import louvain
from cminer_spark.operators.coloring import greedy_coloring
from cminer_spark.operators.densest import densest_subgraph
from cminer_spark.operators.mis import maximal_independent_set
from cminer_spark.operators.msf import boruvka_msf
from cminer_spark.operators.nullmodel import configuration_rewire
from cminer_spark.operators.verify import (
    compare_solutions,
    parse_solutions_text,
    verify_solutions,
)
from cminer_spark.operators.wl import wl_colors, wl_fingerprints
from cminer_spark.operators.temporal import (
    asof_join,
    funnel,
    sessionize,
    retention_cohorts,
    temporal_reachability,
)
from cminer_spark.operators.anf import (
    anf_sketch,
    effective_diameter,
    neighborhood_function_exact,
)
from cminer_spark.operators.propagation import propagate_features
from cminer_spark.operators.sparsify import topk_out_edges
from cminer_spark.operators.stats import dyad_census

__all__ = [
    "extract_edges",
    "extract_edges_delta",
    "extract_edges_sql",
    "passthrough_turns",
    "vertices_from_transcripts",
    "degrees",
    "degrees_by_type",
    "hub_vertices",
    "undirected_adjacency",
    "cooccurrence",
    "csr_blocks",
    "pagerank",
    "pregel",
    "pregel_components",
    "katz",
    "hits",
    "salsa",
    "connected_components",
    "hashmin_components",
    "incremental_components",
    "strongly_connected_components",
    "random_walks",
    "node2vec_walks",
    "negative_edge_samples",
    "sample_neighborhoods",
    "label_propagation",
    "triangle_counts",
    "ktruss_edges",
    "graph_summary",
    "degree_histogram",
    "degree_assortativity",
    "modularity",
    "conductance",
    "graph_diff",
    "rank_churn",
    "eigenvector_centrality",
    "link_prediction_scores",
    "louvain",
    "densest_subgraph",
    "greedy_coloring",
    "boruvka_msf",
    "maximal_independent_set",
    "configuration_rewire",
    "verify_solutions",
    "parse_solutions_text",
    "compare_solutions",
    "wl_colors",
    "wl_fingerprints",
    "sessionize",
    "retention_cohorts",
    "temporal_reachability",
    "asof_join",
    "funnel",
    "anf_sketch",
    "effective_diameter",
    "neighborhood_function_exact",
    "propagate_features",
    "topk_out_edges",
    "dyad_census",
]
