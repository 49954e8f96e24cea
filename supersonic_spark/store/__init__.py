"""The block-table store, one module per decision; see pipeline.py."""
