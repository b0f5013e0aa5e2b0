from pdf_extraction_spark.sources.tables import TableIO, load_testdata  # noqa: F401
