from cyclegraph_spark.extract.text import extract_text, extract_text_udf

__all__ = ["extract_text", "extract_text_udf"]
