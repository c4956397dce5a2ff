"""End-to-end benchmark of the document pipeline; see README.md."""
