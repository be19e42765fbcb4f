"""Seeded recipe document collections in the reference's document schema,
with a known set of planted data-quality faults.

Writes users.jsonl, recipes.jsonl and interactions.jsonl into the output
directory, plus manifest.json: the star-table row counts the ETL must
produce and every validation-report row the planted faults must cause
(table, record id, message text in the reference validator's wording).
The size is fixed by SCALE (one input size for the workload).

    python3 perfbench/gen/recipes.py --seed 7 --out DIR
"""
import argparse
import datetime as dt
import json
import os
import random

FIRST = ["Amanda", "Zachary", "Anna", "Christopher", "Laura", "Brian", "Sophie",
         "Marcus", "Elena", "David", "Priya", "Kenji", "Omar", "Ines", "Tomas"]
LAST = ["Sloan", "Lewis", "Crawford", "Moss", "Nguyen", "Okafor", "Martin",
        "Silva", "Kim", "Baker", "Rossi", "Haddad", "Novak", "Ito", "Park"]
DOMAINS = ["example.com", "example.org", "example.net"]
ADJ = ["Spicy", "Creamy", "Vegan", "Quick", "Homestyle", "Delicious", "Cheesy",
       "Smoky", "Zesty", "Rustic", "Golden", "Crispy"]
FOOD = ["Pasta", "Curry", "Salad", "Soup", "Cake", "Stir Fry", "Tacos",
        "Sandwich", "Risotto", "Stew", "Pie", "Noodles"]
INGREDIENTS = ["Salt", "Pepper", "Olive Oil", "Garlic", "Tomato", "Cheese", "Basil",
               "Chicken", "Rice", "Flour", "Onion", "Ginger", "Butter", "Milk",
               "Egg", "Lemon", "Cumin", "Paprika", "Spinach", "Mushroom",
               "Carrot", "Potato", "Beans", "Tofu", "Honey", "Soy Sauce",
               "Chilli Powder", "Coriander", "Yogurt", "Water"]
UNITS = ["grams", "tbsp", "cup", "pcs", "count", "ml"]
VERBS = ["Chop", "Heat", "Stir", "Add", "Simmer", "Whisk", "Bake", "Season",
         "Fold", "Rest", "Serve", "Grill"]
OBJECTS = ["the onions", "the sauce", "the dough", "the pan", "the vegetables",
           "the chicken", "the rice", "the mixture", "the spices", "the garnish"]
DIFFICULTIES = ["Easy", "Medium", "Hard"]
TYPES = ["view", "view", "view", "like", "like", "cook_attempt"]
BASE = dt.datetime(2025, 11, 20, 12, 35, 30, tzinfo=dt.timezone.utc)

# Sizes at scale 1.0.
SCALE = 0.5          # of the N_* sizes below
N_USERS = 4000
N_RECIPES = 16000
N_INTERACTIONS = 120000
# Planted faults at scale 1.0, one fault per record so each FAIL row
# carries exactly one message.
FAULTS = {"bad_email": 40, "bad_difficulty": 40, "no_ingredients": 30,
          "no_steps": 30, "zero_quantity": 60, "bad_type": 60,
          "orphan_user": 60, "orphan_recipe": 60}


def ts(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f") + "+00:00"


def generate(seed, out):
    scale = SCALE
    rnd = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    n_users = max(20, int(N_USERS * scale))
    n_recipes = max(40, int(N_RECIPES * scale))
    n_inter = max(100, int(N_INTERACTIONS * scale))
    faults = {k: max(1, int(v * scale)) for k, v in FAULTS.items()}
    expected_fail = []   # [table, record_id, issues]

    user_ids = [f"user_{seed}_{i:06d}" for i in range(n_users)]
    bad_email = set(rnd.sample(range(n_users), faults["bad_email"]))
    with open(f"{out}/users.jsonl", "w") as f:
        for i, uid in enumerate(user_ids):
            fn, ln = rnd.choice(FIRST), rnd.choice(LAST)
            local = f"{fn.lower()}.{ln.lower()}{i}"
            if i in bad_email:
                email = f"{local}.{rnd.choice(DOMAINS)}"        # no '@'
                expected_fail.append(["Users", uid, "Invalid email format"])
            else:
                email = f"{local}@{rnd.choice(DOMAINS)}"
            created = BASE - dt.timedelta(seconds=rnd.randrange(400 * 86400),
                                          microseconds=rnd.randrange(10**6))
            f.write(json.dumps({"user_id": uid, "username": f"{fn} {ln}",
                                "email": email, "role": "member",
                                "created_at": ts(created)}) + "\n")

    recipe_ids = [f"rec_{seed}_{i:06d}" for i in range(n_recipes)]
    picks = rnd.sample(range(n_recipes), faults["bad_difficulty"] +
                       faults["no_ingredients"] + faults["no_steps"] +
                       faults["zero_quantity"])
    a = faults["bad_difficulty"]
    b = a + faults["no_ingredients"]
    c = b + faults["no_steps"]
    bad_diff, no_ing, no_steps, zero_q = (set(picks[:a]), set(picks[a:b]),
                                          set(picks[b:c]), set(picks[c:]))
    n_ing = n_steps = 0
    with open(f"{out}/recipes.jsonl", "w") as f:
        for i, rid in enumerate(recipe_ids):
            diff = rnd.choice(DIFFICULTIES)
            if i in bad_diff:
                diff = rnd.choice(["Expert", "easy", "Impossible"])
                expected_fail.append(["Recipes", rid, f"Invalid difficulty: {diff}"])
            ings = []
            if i not in no_ing:
                for k in range(rnd.randint(3, 10)):
                    q = rnd.choice([0.5, 0.25, 1.5]) if rnd.random() < 0.15 \
                        else float(rnd.randint(1, 500))
                    ings.append({"name": rnd.choice(INGREDIENTS), "quantity": q,
                                 "unit": rnd.choice(UNITS)})
                if i in zero_q:
                    ings[rnd.randrange(len(ings))]["quantity"] = 0.0
                    expected_fail.append(["Ingredients", rid, "Zero/Negative quantity"])
            else:
                expected_fail.append(["Recipes", rid, "No ingredients linked"])
            steps = []
            if i not in no_steps:
                for k in range(rnd.randint(2, 9)):
                    steps.append(f"{rnd.choice(VERBS)} {rnd.choice(OBJECTS)}, "
                                 f"{rnd.randint(1, 30)} min.")
            else:
                expected_fail.append(["Recipes", rid, "No steps linked"])
            n_ing += len(ings)
            n_steps += len(steps)
            created = BASE - dt.timedelta(days=rnd.randrange(1, 366),
                                          microseconds=rnd.randrange(10**6))
            f.write(json.dumps({
                "recipe_id": rid,
                "title": f"{rnd.choice(ADJ)} {rnd.choice(FOOD)}",
                "author_id": rnd.choice(user_ids),
                "prep_time_minutes": rnd.randint(5, 180),
                "servings": rnd.randint(1, 8),
                "difficulty": diff,
                "created_at": ts(created),
                "ingredients": ings,
                "steps": steps}) + "\n")

    picks = rnd.sample(range(n_inter), faults["bad_type"] + faults["orphan_user"] +
                       faults["orphan_recipe"])
    a = faults["bad_type"]
    b = a + faults["orphan_user"]
    bad_type, orphan_u, orphan_r = set(picks[:a]), set(picks[a:b]), set(picks[b:])
    with open(f"{out}/interactions.jsonl", "w") as f:
        for i in range(n_inter):
            iid = f"int_{seed}_{i:07d}"
            uid = rnd.choice(user_ids)
            rid = rnd.choice(recipe_ids)
            typ = rnd.choice(TYPES)
            # The validator's record id for an interaction is its
            # recipe_id (the reference coalesces recipe_id, user_id,
            # interaction_id in that order).
            if i in bad_type:
                typ = rnd.choice(["share", "Like", "bookmark"])
                expected_fail.append(["Interactions", rid, f"Invalid type: {typ}"])
            if i in orphan_u:
                uid = f"user_ghost_{i}"
                expected_fail.append(["Interactions", rid, "Orphaned User ID"])
            if i in orphan_r:
                rid = f"rec_ghost_{i}"
                expected_fail.append(["Interactions", rid, "Orphaned Recipe ID"])
            rating = rnd.choice([3, 4, 5, 5]) if rnd.random() < 0.3 else None
            when = BASE - dt.timedelta(seconds=rnd.randrange(31 * 86400),
                                       microseconds=rnd.randrange(10**6))
            doc = {"interaction_id": iid, "user_id": uid, "recipe_id": rid,
                   "type": typ, "timestamp": ts(when)}
            if rating is not None:
                doc["rating"] = rating
            f.write(json.dumps(doc) + "\n")

    manifest = {
        "seed": seed, "scale": scale,
        "star_rows": {"users": n_users, "recipes": n_recipes,
                      "ingredients": n_ing, "steps": n_steps,
                      "interactions": n_inter},
        "expected_fail": sorted(expected_fail),
    }
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return manifest


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.seed, args.out)
