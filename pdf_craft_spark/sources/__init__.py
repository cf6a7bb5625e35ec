from pdf_craft_spark.sources.testdata import fingerprint, load_table, table_path  # noqa: F401
