from pyspark_recs.features.categorify import Categorify, CategorifyModel
