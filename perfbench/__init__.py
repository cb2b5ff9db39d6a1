"""KG-construction benchmark for ``neo4j_export_tool_spark``; see README.md."""
