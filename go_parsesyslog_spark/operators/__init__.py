"""DataFrame → DataFrame operators (parse / enrich / route / aggregate /
dedup / similarity / curation)."""
