from .pipeline import build_pipeline, prepare_loan_frame, train_and_select  # noqa: F401
from .split import stratified_split  # noqa: F401
from .transformers import FusedPreprocessor, FusedPreprocessorModel  # noqa: F401
from .evaluate import confusion_matrix, classification_metrics  # noqa: F401
from .scoring import score_single_row  # noqa: F401
