from big_data_parallel_computing_hw2_spark.sources.tables import TABLES, load_table

__all__ = ["TABLES", "load_table"]
