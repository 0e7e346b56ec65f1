"""bb_bigdata_log_tools_spark — a PySpark-native log analytics engine.

A from-scratch re-expression of the capabilities of
blackberry/BB-BigData-Log-Tools (Hadoop MR + Pig log tools) on the Spark
DataFrame/SQL stack, plus the LLM-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing) a 100 TB training
corpus pipeline needs.

Reference parity map lives in SURVEY.md §2; every operator cites the
reference file it mirrors in its docstring.
"""

__version__ = "0.1.0"
