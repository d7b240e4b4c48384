from .bfs import UNREACHED, bfs, shortest_paths
from .connected_components import connected_components
from .kcore import k_core
from .ktruss import k_truss
from .label_propagation import label_propagation
from .neighborhood import neighborhood_function, nf_long
from .pagerank import pagerank
from .random_walks import random_walks, walks_to_corpus
from .risk_propagation import final_scores, init_state, risk_propagation
from .squares import square_count, square_pair_counts
from .triangle_count import (
    clustering_coefficient,
    edge_adamic_adar,
    edge_jaccard,
    triangles,
)

__all__ = [
    "bfs",
    "UNREACHED",
    "shortest_paths",
    "connected_components",
    "k_core",
    "k_truss",
    "label_propagation",
    "neighborhood_function",
    "nf_long",
    "pagerank",
    "random_walks",
    "walks_to_corpus",
    "risk_propagation",
    "init_state",
    "final_scores",
    "square_count",
    "square_pair_counts",
    "triangles",
    "clustering_coefficient",
    "edge_jaccard",
    "edge_adamic_adar",
]
