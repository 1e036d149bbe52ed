"""KG-construction benchmark: see NOTES.md."""
