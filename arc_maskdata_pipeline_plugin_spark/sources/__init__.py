"""Custom connectors on Spark 4's Python DataSource API (``pydatasource``).

The extract/load stages live with the other pipeline stages in
``operators.extract`` / ``operators.load``; import them from ``operators``.
"""
