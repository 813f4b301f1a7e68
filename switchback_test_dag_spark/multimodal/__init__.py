"""Still-image codecs (BMP, PNG). No pipeline, query or workload calls them."""
