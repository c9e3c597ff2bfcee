from stac_to_geocore_spark.spatial.cover import adaptive_res, cover_bbox_np
from stac_to_geocore_spark.spatial.pip import pip_join
from stac_to_geocore_spark.spatial.knn import knn_join
from stac_to_geocore_spark.spatial.overlap import bbox_overlap_join
from stac_to_geocore_spark.spatial.pip import pip_ring_join

__all__ = ["adaptive_res", "cover_bbox_np", "pip_join", "pip_ring_join", "knn_join", "bbox_overlap_join"]
