from .checkpoint import RunManifest  # noqa: F401
