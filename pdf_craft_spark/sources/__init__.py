from pdf_craft_spark.sources.testdata import load_table  # noqa: F401
