"""Engine error types.

Trigger conditions mirror the reference's shared errors
(/root/reference/graph_store.go:57-60, ontology_graph.go:721-731); the
observable behavior is pinned by the transcribed reference tests in
``tests/``.
"""


class OntographError(Exception):
    """Base class for all engine errors."""


class TripleAlreadyExistsError(OntographError):
    """Checked add of a triple that is already present in the store."""

    def __init__(self) -> None:
        super().__init__("The triple already exists in the graph")


class TripleDoesNotExistError(OntographError):
    """Checked delete of a triple that is not present in the store."""

    def __init__(self) -> None:
        super().__init__("The triple does not exist in the graph")


class OntologyNotFoundError(OntographError):
    """Loading an ontology whose marker triple is absent."""

    def __init__(self) -> None:
        super().__init__("The requested ontology does not exist")


class OntologyAlreadyExistsError(OntographError):
    """Initializing an ontology whose marker triple is already present."""

    def __init__(self) -> None:
        super().__init__("The requested ontology already exists")


class ResourceNotFoundError(OntographError):
    """Fetching a typed resource that is absent (or lacks its type marker)."""

    def __init__(self) -> None:
        super().__init__(
            "The requested ontology resource does not exist in the graph"
        )


class ResourceDoesNotBelongToGraphError(OntographError):
    """Upserting a resource whose namespace differs from the graph URI."""

    def __init__(self) -> None:
        super().__init__(
            "The URI of the resource does not match the URI of the graph"
        )


class LiteralTypeMismatchError(OntographError):
    """Parsing a generic literal into a specific type it does not carry."""

    def __init__(self) -> None:
        super().__init__("The literal is not of the expected type")


class FixpointNotConvergedError(OntographError):
    """An iterative rule fixpoint ran out of rounds while its last round
    still derived new rows: returning would give a truncated closure."""

    def __init__(self, max_rounds: int) -> None:
        super().__init__(
            f"The rule fixpoint did not converge within max_rounds={max_rounds}"
        )
