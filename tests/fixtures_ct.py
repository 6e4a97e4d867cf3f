"""Content-type fixtures mirroring the reference's mocked schemas
(/root/reference/tests/helpers/setup.js:5-43, tests/fixtures/test-data.js)."""

from advanced_strapi_import_spark.schema import Registry

REGISTRY = Registry.from_dict(
    {
        "contentTypes": {
            "country": {
                "uid": "api::country.country",
                "attributes": {
                    "id": {"type": "integer"},
                    "name": {"type": "string", "required": True},
                    "code": {"type": "string", "unique": True},
                },
            },
            "company": {
                "uid": "api::company.company",
                "attributes": {
                    "id": {"type": "integer"},
                    "name": {"type": "string", "required": True},
                    "country": {
                        "type": "relation",
                        "relation": "manyToOne",
                        "target": "country",
                    },
                    "established": {"type": "integer"},
                    "active": {"type": "boolean", "default": True},
                },
            },
            "office": {
                "uid": "api::office.office",
                "attributes": {
                    "id": {"type": "integer"},
                    "name": {"type": "string", "required": True},
                    "location": {"type": "component", "component": "address"},
                },
            },
            "users": {
                "uid": "api::users.users",
                "attributes": {
                    "name": {"type": "string", "required": True},
                    "email": {"type": "email"},
                    "age": {"type": "integer"},
                    "isActive": {"type": "boolean"},
                    "joined": {"type": "datetime"},
                    "status": {
                        "type": "enumeration",
                        "enum": ["active", "inactive", "pending"],
                    },
                    "score": {"type": "float"},
                    "tags": {
                        "type": "relation",
                        "relation": "manyToMany",
                        "target": "country",
                    },
                },
            },
            "team": {
                "uid": "api::team.team",
                "attributes": {
                    "id": {"type": "integer"},
                    "name": {"type": "string", "required": True},
                    "members": {
                        "type": "relation",
                        "relation": "manyToMany",
                        "target": "country",
                    },
                },
            },
        },
        "components": {
            "address": {
                "uid": "test.address",
                "attributes": {
                    "street": {"type": "string"},
                    "city": {"type": "string"},
                    "country": {
                        "type": "relation",
                        "relation": "manyToOne",
                        "target": "country",
                    },
                },
            },
        },
    }
)

COUNTRIES = [
    (1, "India", "IN"),
    (2, "United States", "US"),
    (3, "China", "CN"),
    (4, "USA", "USX"),
]
