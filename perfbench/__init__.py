"""KG benchmark (see NOTES.md)."""
