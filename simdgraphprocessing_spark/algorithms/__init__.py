from simdgraphprocessing_spark.algorithms.pagerank import pagerank  # noqa: F401
from simdgraphprocessing_spark.algorithms.components import connected_components  # noqa: F401
from simdgraphprocessing_spark.algorithms.labelprop import label_propagation  # noqa: F401
