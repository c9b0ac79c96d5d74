"""Closed-loop benchmark of whatsapp_vectordb_spark; see README.md."""
