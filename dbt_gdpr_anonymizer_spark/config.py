"""Engine settings — mirrors the reference's global vars.

Reference: /root/reference/dbt_project/dbt_project.yml:33-62 (vars block) and
src/dbt_gdpr_anonymizer/config/settings.py. Values are overridable from the
environment so the same code runs dev/staging/prod; the salt uses the
reference's unsafe dev default and `require_safe_salt` refuses it outside dev.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

DEFAULT_SALT = "dev_salt_UNSAFE"  # reference default, dbt_project.yml:36
ANON_EMAIL_DOMAIN = "anonymized.gouv.fr"


@dataclass(frozen=True)
class EngineSettings:
    """Runtime configuration for the anonymization engine."""

    salt_key: str = field(
        default_factory=lambda: os.environ.get("ANONYMIZATION_SALT", DEFAULT_SALT)
    )
    k_anonymity_min: int = field(
        default_factory=lambda: int(os.environ.get("K_ANONYMITY_MIN", "5"))
    )
    retention_days_default: int = field(
        default_factory=lambda: int(os.environ.get("RETENTION_DAYS_DEFAULT", "730"))
    )
    gps_precision: int = field(
        default_factory=lambda: int(os.environ.get("GPS_PRECISION", "2"))
    )
    project_name: str = "GDPR Anonymizer"
    project_version: str = "1.0.0"
    data_owner: str = "DPO"
    environment: str = field(
        default_factory=lambda: os.environ.get("ENGINE_ENV", "dev")
    )

    def require_safe_salt(self) -> None:
        """Fail fast when the unsafe dev salt would reach a real deployment."""
        if self.environment != "dev" and self.salt_key == DEFAULT_SALT:
            raise ValueError(
                "refusing to run with the default dev salt outside the dev "
                "environment; set ANONYMIZATION_SALT"
            )


def settings() -> EngineSettings:
    """Fresh settings snapshot from the current environment."""
    return EngineSettings()
