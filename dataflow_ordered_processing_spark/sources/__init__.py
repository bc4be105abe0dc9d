from .transcripts import TRANSCRIPTS_SQL, derive_transcripts, load_table, shuffled_arrival
from .scenarios import scenario, SCENARIOS

__all__ = [
    "TRANSCRIPTS_SQL",
    "derive_transcripts",
    "load_table",
    "shuffled_arrival",
    "scenario",
    "SCENARIOS",
]
