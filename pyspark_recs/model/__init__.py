from pyspark_recs.model.retrieval import (
    grid_search,
    rerank_with_features,
    recommend_topk,
    train_als,
)
from pyspark_recs.model.metrics import ranking_metrics
