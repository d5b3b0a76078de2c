"""Crawl-and-query benchmark for transmogrify_webcrawler_spark (see NOTES.md)."""
