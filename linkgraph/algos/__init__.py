"""Iterative graph algorithms on the pregel kernel (SURVEY.md §7.5)."""

from linkgraph.algos.cc import connected_components
from linkgraph.algos.lpa import label_propagation
from linkgraph.algos.pagerank import pagerank, personalized_pagerank
from linkgraph.algos.triangles import triangle_count

__all__ = [
    "pagerank",
    "personalized_pagerank",
    "connected_components",
    "label_propagation",
    "triangle_count",
]
