from pyspark_recs.io.loaders import load_table
