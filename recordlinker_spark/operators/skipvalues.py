"""Skip-values scrub (P2): blank out configured placeholder values.

Reproduces the reference's ``remove_skip_values``
(reference: src/recordlinker/linking/skip_values.py:28-130) as a pure
Catalyst projection over the normalized PII columns — one pass, no
Python, no shuffle.  Matching is case-insensitive exact equality
against the configured value list; ``feature='*'`` applies a rule to
every field.  Field-specific effects mirror the reference exactly:

* BIRTHDATE/SEX       -> NULL
* ADDRESS             -> line[0] = '' (only the first line)
* CITY/STATE/ZIP/COUNTY -> '' in place
* GIVEN_NAME          -> each matching given[i] = ''
* FIRST_NAME          -> given[0] = '' when it matches
* LAST_NAME           -> family = ''
* NAME                -> if "given[0] family" matches: given=[], family=''
* RACE                -> element removed from the array
* TELECOM/PHONE/EMAIL -> value = '' (PHONE/EMAIL filter by system)
* SUFFIX              -> each matching suffix[i] = ''
* IDENTIFIER[:TYPE]   -> value = '' when "value:authority:type" matches

The scrub runs where the reference runs it: on the incoming record
before blocking (link.py:224) and on MPI records before comparison
(link.py:245-247) — note the reference scores the *raw* incoming
record (link.py:260-267), an asymmetry linkjob.py preserves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from recordlinker_spark.config import SkipValue
from recordlinker_spark.functions.features import _per_context

# feature attributes a '*' rule fans out to (skip_values.py:47-130)
_ALL_ATTRS = (
    "BIRTHDATE",
    "SEX",
    "ADDRESS",
    "CITY",
    "STATE",
    "ZIP",
    "GIVEN_NAME",
    "FIRST_NAME",
    "LAST_NAME",
    "NAME",
    "RACE",
    "TELECOM",
    "PHONE",
    "EMAIL",
    "SUFFIX",
    "COUNTY",
    "IDENTIFIER",
)


def _collect(skips: tuple[SkipValue, ...]) -> dict[str, list[str]]:
    """attribute -> lowercased skip values (suffix rules keyed as
    IDENTIFIER:TYPE)."""
    out: dict[str, list[str]] = {}
    for skip in skips:
        lowered = [v.lower() for v in skip.values]
        attrs = _ALL_ATTRS if skip.feature == "*" else (skip.feature,)
        for attr in attrs:
            out.setdefault(attr, []).extend(lowered)
    return out


def _matches(col: Column, values: list[str]) -> Column:
    return F.lower(col).isin(*values)


def remove_skip_values(records: DataFrame, skips: tuple[SkipValue, ...]) -> DataFrame:
    """Return records with skip values blanked (same schema)."""
    # the scrub's Column trees cost ~2k Py4J calls to build; they are
    # built once per SparkContext, like the feature trees
    cols = _per_context(("skip", skips), lambda: _scrub_columns(skips))
    return records.withColumns(cols) if cols else records


def _scrub_columns(skips: tuple[SkipValue, ...]) -> dict[str, Column]:
    """PII column name -> its scrubbed Column, for the columns ``skips``
    touch."""
    rules = _collect(skips)
    if not rules:
        return {}

    def scrub_str(col: Column, attr: str, null: bool = False) -> Column:
        vals = rules.get(attr)
        if not vals:
            return col
        blank = F.lit(None).cast("string") if null else F.lit("")
        return F.when(col.isNotNull() & _matches(col, vals), blank).otherwise(col)

    cols: dict[str, Column] = {}

    cols["birth_date"] = scrub_str(F.col("birth_date"), "BIRTHDATE", null=True)
    cols["sex"] = scrub_str(F.col("sex"), "SEX", null=True)

    # ---- name: FIRST_NAME / GIVEN_NAME / LAST_NAME / NAME / SUFFIX
    def scrub_name(n: Column) -> Column:
        given, family, suffix = n["given"], n["family"], n["suffix"]
        if rules.get("GIVEN_NAME"):
            given = F.transform(given, lambda g: scrub_str(g, "GIVEN_NAME"))
        if rules.get("FIRST_NAME"):
            # only given[0] is tested/blanked (skip_values.py:75-78)
            given = F.transform(
                given,
                lambda g, i: F.when(
                    (i == 0) & g.isNotNull() & _matches(g, rules["FIRST_NAME"]),
                    F.lit(""),
                ).otherwise(g),
            )
        if rules.get("LAST_NAME"):
            family = scrub_str(family, "LAST_NAME")
        if rules.get("SUFFIX"):
            suffix = F.transform(suffix, lambda s: scrub_str(s, "SUFFIX"))
        if rules.get("NAME"):
            # test "given[0] family" against the raw fields (skip_values.py:84-89);
            # ' '.join(given[0:1]) + ' ' + family keeps a leading space when
            # given is empty, so explicit concat (not concat_ws)
            nval = F.concat(
                F.coalesce(F.try_element_at(n["given"], F.lit(1)), F.lit("")),
                F.lit(" "),
                F.coalesce(n["family"], F.lit("")),
            )
            hit = _matches(nval, rules["NAME"])
            given = F.when(hit, F.array().cast("array<string>")).otherwise(given)
            family = F.when(hit, F.lit("")).otherwise(family)
        return F.struct(
            family.alias("family"),
            given.alias("given"),
            suffix.alias("suffix"),
            n["use"].alias("use"),
        )

    if any(rules.get(a) for a in
           ("GIVEN_NAME", "FIRST_NAME", "LAST_NAME", "SUFFIX", "NAME")):
        cols["name"] = F.transform(F.col("name"), scrub_name)

    # ---- address: ADDRESS (line[0]) / CITY / STATE / ZIP / COUNTY
    def scrub_address(a: Column) -> Column:
        line = a["line"]
        if rules.get("ADDRESS"):
            line = F.transform(
                line,
                lambda l, i: F.when(
                    (i == 0) & l.isNotNull() & _matches(l, rules["ADDRESS"]),
                    F.lit(""),
                ).otherwise(l),
            )
        return F.struct(
            line.alias("line"),
            scrub_str(a["city"], "CITY").alias("city"),
            scrub_str(a["state"], "STATE").alias("state"),
            scrub_str(a["postal_code"], "ZIP").alias("postal_code"),
            scrub_str(a["county"], "COUNTY").alias("county"),
        )

    if any(rules.get(a) for a in
           ("ADDRESS", "CITY", "STATE", "ZIP", "COUNTY")):
        cols["address"] = F.transform(F.col("address"), scrub_address)

    # ---- telecom: TELECOM (any) / PHONE / EMAIL (system-gated)
    def scrub_telecom(t: Column) -> Column:
        value = scrub_str(t["value"], "TELECOM")
        for attr, system in (("PHONE", "phone"), ("EMAIL", "email")):
            vals = rules.get(attr)
            if vals:
                value = F.when(
                    (t["system"] == system) & value.isNotNull() & _matches(value, vals),
                    F.lit(""),
                ).otherwise(value)
        return F.struct(value.alias("value"), t["system"].alias("system"))

    if any(rules.get(a) for a in ("TELECOM", "PHONE", "EMAIL")):
        cols["telecom"] = F.transform(F.col("telecom"), scrub_telecom)

    # ---- race: element removal
    if rules.get("RACE"):
        # keep NULL elements: ~_matches(NULL) is NULL, which F.filter
        # would silently drop — the reference's RACE branch only removes
        # MATCHING values (skip_values.py 'if race and _match')
        cols["race"] = F.filter(
            F.col("race"),
            lambda r: r.isNull() | ~_matches(r, rules["RACE"]),
        )

    # ---- identifiers: value='' when "value:authority:type" matches;
    # suffix rules (IDENTIFIER:SS) gate on type (skip_values.py:124-130)
    ident_rules = [
        (key.split(":", 1)[1] if ":" in key else None, vals)
        for key, vals in rules.items()
        if key.split(":", 1)[0] == "IDENTIFIER"
    ]
    if ident_rules:

        def scrub_ident(i: Column) -> Column:
            composite = F.concat(
                F.coalesce(i["value"], F.lit("")),
                F.lit(":"),
                F.coalesce(i["authority"], F.lit("")),
                F.lit(":"),
                F.coalesce(i["type"], F.lit("")),
            )
            value = i["value"]
            for typ, vals in ident_rules:
                cond = _matches(composite, vals)
                if typ is not None:
                    cond = cond & (i["type"] == typ)
                value = F.when(cond, F.lit("")).otherwise(value)
            return F.struct(
                i["type"].alias("type"),
                value.alias("value"),
                i["authority"].alias("authority"),
            )

        cols["identifiers"] = F.transform(F.col("identifiers"), scrub_ident)

    return cols
