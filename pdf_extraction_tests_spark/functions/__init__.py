"""Column-level functions: author canonicalisation, BPE token counts,
LLM-reply parsing and prompt rendering (no row-at-a-time UDFs)."""
